"""The benchmark's workloads.  Each one is a single client in a closed
loop (it sends its next operation only after the previous one returned)
against one Spark session at ``local[nproc // 2]``.

A workload function takes a :class:`Run` and returns a dict with

* ``op_s``: the latencies of the repeated unit operation,
* ``op_cpu_s``: the CPU seconds of each (``Run.cpu``),
* ``timed_s``: the wall time of the whole timed phase,
* ``report``: the workload's own end-to-end figures, by name,
* ``attempted``: operations whose output was checked.

Wrong outputs are recorded with ``Run.fail``.  See README.md for why
each workload exists and which layers it should and should not move.
"""

from __future__ import annotations

import json
import os
import shutil
import socket
import time

from inputs import (OOV_QUERIES, corpus_rows, delete_ids, generator_hash,
                    operator_order, query_stream)
from checks import Bm25Oracle, check_topk, check_value_hash
from spans import (PERSIST_TABLES, WRITE_BUILD_LAYER, dir_bytes,
                   query_stage_layer, write_stage_layer)

K = 10
SERVE_DOCS = 5000           # corpus of the serving index
TERM_BUCKETS = 8            # serving layout of the persistent index
APPEND_DOCS = 500           # documents pushed before compaction
DELETES = 5                 # documents deleted before compaction
MIN_REQUESTS = 3
MIN_PASSES = 2

NEAR_DUP_OPS = (("dedup.minhash", "dedup_minhash_lsh"),
                ("dedup.simhash", "dedup_simhash_pairs"),
                ("ann.lsh", "ann_lsh_topk"),
                ("semantic.boe", "semantic_boe_topk"))


# ---- shared helpers ----------------------------------------------------

def corpus_parquet(run, n: int) -> str:
    """The seeded corpus (with ``doc_id`` 0..n-1) as parquet, reused
    across runs while generator, seed and size are unchanged; indexes
    are always rebuilt."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = os.path.join(run.state_dir, "corpus",
                        f"{generator_hash()}-s{run.seed}-n{n}")
    done = os.path.join(path, "_SUCCESS")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(pa.Table.from_pylist(corpus_rows(run.seed, n)),
                       os.path.join(path, "part-0.parquet"))
        open(done, "w").close()
    return path


def storage_rdds(spark) -> int:
    """Number of RDDs holding executor storage (cached or checkpointed)."""
    return int(spark.sparkContext._jsc.sc().statusStore().rddList(True).size())


def storage_bytes(spark) -> int:
    rl = spark.sparkContext._jsc.sc().statusStore().rddList(True)
    return sum(int(rl.apply(i).memoryUsed()) + int(rl.apply(i).diskUsed())
               for i in range(rl.size()))


def retire(df) -> None:
    """Release the checkpointed RDDs a result's plan reads from (an
    eager localCheckpoint inside an operator), so the next repeat is
    not served from them and executor storage returns to its level."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(True)


def trace_engine(run, spark) -> None:
    """Install the traced run's spans around the engine's layer entry
    points (module attributes, restored by ``Tracer.unpatch``)."""
    tr = run.tracer
    if not tr.enabled:
        return
    from pyspark.sql import readwriter
    from garamond_jl_spark.operators import query, resident
    from garamond_jl_spark.plans import lifecycle
    from garamond_jl_spark.server import socket as gsocket
    from garamond_jl_spark.streaming import incremental

    for mod in (query, lifecycle):
        tr.patch(mod, "embed_queries", "query.embed")
    tr.patch(gsocket, "response_json", "lifecycle.response_json")

    orig_hydrate = lifecycle._paginate_hydrate

    def mark_hydrate(*args, **kwargs):
        cur = tr.current()
        if cur is not None and cur["name"] == "lifecycle.response_json":
            cur["hydrate_at"] = time.time()
        return orig_hydrate(*args, **kwargs)

    tr.replace(lifecycle, "_paginate_hydrate", mark_hydrate)

    tr.patch(incremental, "load_live_index", "incremental.load_live",
             before=lambda args, kwargs: args[1],
             after=lambda out_dir, out, rec: rec.update(delta_segments=len(
                 incremental._committed_batches(out_dir))))
    tr.patch(resident, "make_resident", "resident.make_resident",
             after=lambda st, out, rec: rec.update(
                 cached_bytes=storage_bytes(spark)))

    orig_parquet = readwriter.DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        cur = tr.current()
        parts = os.path.normpath(path).split(os.sep)
        table = next((p for p in reversed(parts) if p in PERSIST_TABLES), None)
        if cur is None or table is None or cur["name"] not in (
                "persist.build", "incremental.compact"):
            out = orig_parquet(self, path, *args, **kwargs)
            if cur is not None:
                cur["bytes_written"] = (cur.get("bytes_written", 0)
                                        + dir_bytes(path))
            return out
        with tr.span(f"persist.{table}", table=table,
                     py_layer=WRITE_BUILD_LAYER.get(table,
                                                    f"persist.{table}")) as rec:
            out = orig_parquet(self, path, *args, **kwargs)
            rec["bytes_written"] = dir_bytes(path)
        return out

    tr.replace(readwriter.DataFrameWriter, "parquet", parquet)


def split_stage(span, job, stage) -> str:
    """Layer of one stage of a traced span (see spans.layer_table): in a
    response, jobs started after the page-hydrate call hydrate; in a
    persist write, see spans.write_stage_layer."""
    name = span["name"]
    if name == "lifecycle.response_json":
        at = span.get("hydrate_at")
        if at is not None and (job["submitted"] or 0) >= at:
            return "query.hydrate"
        return query_stage_layer(stage)
    if "table" in span:
        return write_stage_layer(span["table"], stage)
    return name


# ---- serve -------------------------------------------------------------

def _request_line(query: str) -> bytes:
    req = {"operation": "search", "query": query, "max_matches": K,
           "max_suggestions": 0, "search_method": "exact",
           "return_fields": [], "sort_fields": [], "sort_reverse": False,
           "custom_weights": {}, "request_id_key": "", "response_size": K,
           "response_page": 1, "ranker": "noop_ranker",
           "input_parser": "noop_input_parser",
           "recommender": "noop_recommender", "searchable_filters": []}
    return json.dumps(req).encode() + b"\n"


def _roundtrip(conn: socket.socket, query: str) -> dict:
    conn.sendall(_request_line(query))
    buf = b""
    while not buf.endswith(b"\n"):
        chunk = conn.recv(1 << 16)
        if not chunk:
            raise RuntimeError("server closed the connection mid-response")
        buf += chunk
    return json.loads(buf.decode())


def serve(run) -> dict:
    """Single search requests over one connection to the line-JSON
    socket server.  Set-up takes the serving index through the write
    path first: dense ids, a term-bucketed persistent build, one pushed
    batch and a few deletes, compaction (which opens the live view),
    and the resident load.  Timed: each request, measured at the client."""
    import pandas as pd
    import pyarrow.parquet as pq
    from garamond_jl_spark.config import EngineConfig
    from garamond_jl_spark.operators.build import assign_dense_ids
    from garamond_jl_spark.operators.persist import build_persistent, load_index
    from garamond_jl_spark.operators.resident import release_resident
    from garamond_jl_spark.plans.lifecycle import SearchEnv
    from garamond_jl_spark.server.socket import socket_server
    from garamond_jl_spark.streaming.incremental import (append_docs, compact,
                                                         delete_docs)

    spark, tr = run.spark, run.tracer
    trace_engine(run, spark)
    cfg = EngineConfig()
    corpus = corpus_parquet(run, SERVE_DOCS)
    idx_dir = run.fresh_dir("serve-index")
    phase: dict[str, float] = {}

    def timed(name, fn):
        t = time.perf_counter()
        out = fn()
        phase[name] = time.perf_counter() - t
        return out

    with tr.span("build.assign_dense_ids"):
        docs = timed("assign_dense_ids_s", lambda: assign_dense_ids(
            spark.read.parquet(corpus).drop("doc_id"),
            ["repo", "path", "commit"]))
    # the serving layout: term-bucketed postings; no champion lists
    # (the exact plan never reads them)
    with tr.span("persist.build"):
        timed("build_s", lambda: build_persistent(
            spark, docs, cfg, idx_dir, n_buckets=1,
            term_buckets=TERM_BUCKETS, champion_p=0))
    docs._dense_ids_snapshot.unpersist()
    pushed = corpus_rows(run.seed, APPEND_DOCS, first_id=SERVE_DOCS)
    with tr.span("incremental.append"):
        timed("append_s", lambda: append_docs(
            spark, idx_dir, spark.createDataFrame(pd.DataFrame(pushed))))
    deleted = delete_ids(run.seed, 0, SERVE_DOCS, DELETES)
    with tr.span("incremental.delete"):
        delete_docs(spark, idx_dir, deleted)
    # compact opens the live view itself (traced as incremental.load_live)
    with tr.span("incremental.compact") as rec:
        timed("compact_s", lambda: compact(spark, idx_dir))
        rec["bytes_rewritten"] = dir_bytes(idx_dir)
    index_ratio = dir_bytes(idx_dir) / dir_bytes(corpus)
    index = load_index(spark, idx_dir, resident=True)
    srv = socket_server(SearchEnv(spark=spark, index=index))
    stream = query_stream(run.seed, 10_000)
    lat, hit_lat, hit_cpu, responses = [], [], [], []
    try:
        conn = socket.create_connection(("127.0.0.1", srv.port))
        try:
            # warm-up: neither timed nor traced
            traced, tr.enabled = tr.enabled, False
            _roundtrip(conn, stream[0])
            tr.enabled = traced
            run.setup_done(storage_rdds(spark))
            t0 = time.perf_counter()
            i = 1
            while len(hit_lat) < MIN_REQUESTS or time.perf_counter() - t0 < run.seconds:
                q = stream[i]
                i += 1
                with tr.span("server.socket", request=i) as rec:
                    tr.remote_parent = rec if tr.enabled else None
                    cs, ts = run.cpu(), time.perf_counter()
                    body = _roundtrip(conn, q)
                    lat.append(time.perf_counter() - ts)
                    cpu = run.cpu() - cs
                tr.remote_parent = None
                if q not in OOV_QUERIES:
                    hit_lat.append(lat[-1])
                    hit_cpu.append(cpu)
                responses.append((q, body))
            timed_s = time.perf_counter() - t0
        finally:
            conn.close()
    finally:
        srv.shutdown()
    tr.unpatch()
    run.check_storage(lambda: storage_rdds(spark))
    release_resident(index)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # outputs: every response against the sparse BM25 oracle over the
    # same documents (numbered as assign_dense_ids numbers them), with
    # the pushed batch weighted under the build's frozen statistics and
    # the deleted documents gone
    rows = sorted(pq.read_table(corpus).to_pylist(),
                  key=lambda r: (r["repo"], r["path"], r["commit"]))
    oracle = Bm25Oracle([(i, r["content"]) for i, r in enumerate(rows)], cfg)
    oracle.push([(r["doc_id"], r["content"]) for r in pushed])
    oracle.delete(deleted)
    full_cache: dict[str, list] = {}
    for q, body in responses:
        if q not in full_cache:
            full_cache[q] = oracle.topk(q, len(oracle.doc_ids))
        full = full_cache[q]
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in sorted(body["results"], key=lambda r: r["rank"])]
        problems = check_topk(got, full[:K], dict(full))
        if body.get("n_total_results") != len(full[:K]):
            problems.append(f"n_total_results {body.get('n_total_results')}"
                            f" vs {len(full[:K])}")
        bad = set(deleted) & {d for d, _ in got}
        if bad:
            problems.append(f"deleted ids returned {sorted(bad)}")
        run.fail(q, problems)
    report = {"request_p50_s": ("p50", lat, "s"),
              "request_p90_s": ("p90", lat, "s"),
              "oov_request_p50_s": ("p50", [t for (q, _), t in zip(
                  responses, lat) if q in OOV_QUERIES], "s"),
              "build_docs_per_s": ("value", SERVE_DOCS / (
                  phase["assign_dense_ids_s"] + phase["build_s"]), "1/s"),
              "index_bytes_per_input_byte": ("value", index_ratio, "ratio")}
    for name in ("append_s", "compact_s"):
        report[name] = ("value", phase[name], "s")
    # op_s, op_cpu_s: in-vocabulary requests only.  An OOV/empty request
    # costs a quarter of a hit, so with a handful of requests per run one
    # or two of them would swing the median by a third; at their 5%
    # share they do not move the median of the traffic itself
    return {"op_s": hit_lat, "op_cpu_s": hit_cpu, "timed_s": timed_s,
            "attempted": len(responses), "report": report,
            "sizes": {"docs": SERVE_DOCS, "pushed_docs": APPEND_DOCS,
                      "deleted_docs": DELETES, "k": K,
                      "term_buckets": TERM_BUCKETS, "requests": len(lat),
                      "oov_requests": len(lat) - len(hit_lat)}}


# ---- near_dup ------------------------------------------------------------

def near_dup(run) -> dict:
    """The dedup, ANN and semantic operators on the frozen fixture tables,
    in a seeded operator order; one pass runs all four."""
    from garamond_jl_spark.plans import pipeline_queries as P

    spark, tr = run.spark, run.tracer
    sf = os.path.join(run.bench_dir, "fixtures", "near_dup")
    order = operator_order(run.seed, [n for n, _ in NEAR_DUP_OPS])
    fn_of = dict(NEAR_DUP_OPS)
    per_op: dict[str, list[float]] = {n: [] for n in order}
    attempted = 0

    def one_pass() -> tuple[float, float]:
        nonlocal attempted
        cp, tp = run.cpu(), time.perf_counter()
        for layer in order:
            name = fn_of[layer]
            before = storage_bytes(spark) if tr.enabled else 0
            ts = time.perf_counter()
            with tr.span(layer) as rec:
                df = getattr(P, name)(spark, sf)
                rows = [tuple(r) for r in df.collect()]
            dt = time.perf_counter() - ts
            if tr.enabled:
                rec["checkpoint_bytes"] = storage_bytes(spark) - before
            retire(df)
            per_op[layer].append(dt)
            attempted += 1
            run.fail(name, check_value_hash(name, rows, df.columns))
        return time.perf_counter() - tp, run.cpu() - cp

    # the first pass compiles every plan and starts the Python workers
    # (about twice a warm pass): it is set-up, checked but neither
    # timed nor traced
    traced, tr.enabled = tr.enabled, False
    one_pass()
    tr.enabled = traced
    for layer in order:
        per_op[layer].clear()
    run.setup_done(storage_rdds(spark))
    t0 = time.perf_counter()
    passes, pass_cpu = [], []
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < run.seconds:
        wall, cpu = one_pass()
        passes.append(wall)
        pass_cpu.append(cpu)
    timed_s = time.perf_counter() - t0
    run.check_storage(lambda: storage_rdds(spark))
    report = {f"{n.replace('.', '_')}_s": ("p50", v, "s")
              for n, v in per_op.items()}
    return {"op_s": passes, "op_cpu_s": pass_cpu, "timed_s": timed_s, "attempted": attempted, "report": report,
            "sizes": {"documents": 500, "embeddings": 500,
                      "order": order, "passes": len(passes)}}


WORKLOADS = {"serve": serve, "near_dup": near_dup}
