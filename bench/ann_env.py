"""ANN-backed dense searcher + IVF assignment at 1M vectors.

Two questions the round-4 work must answer with numbers (BENCH.md):

1. Candidate sublinearity: with an LSH candidate index attached, how
   many docs does a dense-searcher request actually score at 1M docs
   (vs the full-scan NaiveIndex semantics), and what does that do to
   request latency?
2. Assignment K-independence: the mapInArrow blocked-matmul centroid
   assignment (operators/ann.assign_lists_arrow) vs the join-shaped
   plan (|corpus|×K intermediate) as K grows — the round-3 finding.

Protocol (BENCH.md rules): corpus materialized to parquet first, worker
pool warmed with an untimed pass, per-measure min-of-2, one Spark JVM.

Run: python bench/ann_env.py [--docs 1000000] [--dim 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from garamond_jl_spark.operators.ann import (IVFADCIndex,  # noqa: E402
                                             LSHCandidateIndex,
                                             _assign_join,
                                             assign_lists_arrow)
from garamond_jl_spark.operators.semantic import \
    DenseVectorSearcher  # noqa: E402
from garamond_jl_spark.session import get_spark  # noqa: E402


class _FixedQuerySearcher(DenseVectorSearcher):
    """Bench-only: a dense searcher with a pinned query vector."""

    def __init__(self, doc_embeddings, qv_rows, **kw):
        super().__init__(doc_embeddings, **kw)
        self._qv_rows = qv_rows

    def embed_query(self, spark, query):
        return spark.createDataFrame(self._qv_rows, "i INT, qv DOUBLE")


def _timed(fn, repeats: int = 2) -> float:
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--dim", type=int, default=16)
    ap.add_argument("--clusters", type=int, default=1000)
    ap.add_argument("--out", default="/tmp/ann_env_bench")
    ap.add_argument("--ivf-k", type=int, default=256)
    ap.add_argument("--ivf-probe", type=int, default=8)
    ap.add_argument("--pq-m", type=int, default=4)
    ap.add_argument("--train-ratio", type=float, default=0.02)
    ap.add_argument("--recall-queries", type=int, default=10)
    ap.add_argument("--rerank", type=int, default=1000)
    args = ap.parse_args()

    spark = get_spark("ann-env-bench")
    spark.sparkContext.setLogLevel("ERROR")
    n, dim = args.docs, args.dim

    packed_path = f"{args.out}/packed_{n}_{dim}.parquet"
    long_path = f"{args.out}/long_{n}_{dim}.parquet"
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(args.clusters, dim)) * 3.0
    if not os.path.exists(packed_path):
        # clustered corpus (the realistic regime): id → cluster via
        # modulo, noise around the center; built in Spark so the 1M-row
        # materialization is parallel
        cent_df = spark.createDataFrame(
            [(int(c), [float(x) for x in vec])
             for c, vec in enumerate(centers)], "cl INT, cv ARRAY<DOUBLE>")
        base = (spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % args.clusters).cast("int").alias("cl")))
        noise = F.expr(
            f"transform(sequence(1, {dim}), j -> "
            "cast(conv(substring(md5(concat(doc_id, ':', j)), 1, 6), 16, 10)"
            " as double) / 8388608.0 - 1.0)")
        packed = (base.join(F.broadcast(cent_df), "cl")
                  .withColumn("nz", noise)
                  .select("doc_id",
                          F.expr("zip_with(cv, nz, (a, b) -> a + 0.3 * b)")
                          .alias("emb")))
        packed.write.mode("overwrite").parquet(packed_path)
        (spark.read.parquet(packed_path)
         .select("doc_id", F.posexplode("emb").alias("i0", "dv"))
         .select("doc_id", (F.col("i0") + 1).cast("int").alias("i"), "dv")
         .write.mode("overwrite").parquet(long_path))

    packed = spark.read.parquet(packed_path)
    dv = spark.read.parquet(long_path)
    packed.sample(0.01).count()          # warm the worker pool
    dv.sample(0.01).count()

    results: dict = {"docs": n, "dim": dim, "loadavg": os.getloadavg()}

    # --- 1. dense searcher: full scan vs ANN-backed --------------------
    q = centers[7] + 0.1 * rng.normal(size=dim)
    qv_rows = [(i + 1, float(v)) for i, v in enumerate(q)]

    exact = _FixedQuerySearcher(dv, qv_rows)
    t_scan = _timed(lambda: exact.sparse_hits(spark, "q").count())
    n_scan = exact.sparse_hits(spark, "q").count()

    t_build = time.time()
    idx = LSHCandidateIndex.build(dv, n_planes=12, radius=1, seed=0)
    idx.buckets.count()
    t_build = time.time() - t_build
    ann = _FixedQuerySearcher(dv, qv_rows, candidate_index=idx)
    t_ann = _timed(lambda: ann.sparse_hits(spark, "q").count())
    n_cand = idx.candidates_batch({0: qv_rows}).count()
    results["dense_request"] = {
        "full_scan_rows": n_scan, "full_scan_sec": round(t_scan, 2),
        "lsh_build_sec": round(t_build, 2),
        "ann_candidates": n_cand, "ann_request_sec": round(t_ann, 2),
        "candidate_fraction": round(n_cand / n, 4)}

    # --- 1b. storage formats: long-form join scorer vs packed matvec ---
    def _du(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
        return total

    s_packed = _FixedQuerySearcher(dv, qv_rows)
    s_packed.packed = packed
    t_packed = _timed(lambda: s_packed.sparse_hits(spark, "q").count())
    results["storage"] = {
        "long_parquet_mb": round(_du(long_path) / 1e6, 1),
        "packed_parquet_mb": round(_du(packed_path) / 1e6, 1),
        "long_request_sec": round(t_scan, 2),
        "packed_request_sec": round(t_packed, 2)}

    # --- 2. assignment cost vs K: arrow matmul vs join fanout ----------
    assign = {}
    for K in (16, 256, 1024):
        C = centers[:K] if K <= args.clusters else np.vstack(
            [centers, rng.normal(size=(K - args.clusters, dim)) * 3.0])
        t_arrow = _timed(
            lambda: assign_lists_arrow(packed, C.tolist()).count())
        row = {"arrow_sec": round(t_arrow, 2)}
        if K <= 256:   # the join plan materializes |corpus|×K rows
            cent_df = F.broadcast(spark.createDataFrame(
                [(int(c), int(i) + 1, float(v))
                 for c, vec in enumerate(C) for i, v in enumerate(vec)],
                "cid INT, i INT, cv DOUBLE"))
            t_join = _timed(lambda: _assign_join(dv, cent_df).count())
            row["join_sec"] = round(t_join, 2)
        assign[K] = row
    results["assignment"] = assign

    # --- 3. trained IVFADC at scale: sampled trainers + map-only ------
    # assignments, recall@10 vs the exact scorer (the question the
    # 240-doc pytest can't answer: does the trained path hold at 1M?)
    from garamond_jl_spark.operators.semantic import cosine_topk
    t0 = time.time()
    adc = IVFADCIndex.build(dv, dim=dim, n_centroids=args.ivf_k,
                            m=args.pq_m, n_codes=16,
                            n_probe=args.ivf_probe, n_iter=4, seed=0,
                            sample_ratio=args.train_ratio, packed=packed,
                            persist=True)
    adc.codes.count()                     # materialize the build
    t_adc_build = time.time() - t0

    recalls, t_adc_q = [], []
    for qi in range(args.recall_queries):
        qc = centers[(qi * 137) % args.clusters] \
            + 0.1 * rng.normal(size=dim)
        qv = [(i + 1, float(v)) for i, v in enumerate(qc)]
        want = {r["doc_id"]
                for r in cosine_topk(dv, {0: qv}, 10).collect()}
        t0 = time.time()
        got = {r["doc_id"]
               for r in adc.search(dv, qv, k=10,
                                   rerank=args.rerank).collect()}
        t_adc_q.append(time.time() - t0)
        recalls.append(len(want & got) / 10)
    results["ivfadc_trained"] = {
        "n_centroids": args.ivf_k, "n_probe": args.ivf_probe,
        "pq_m": args.pq_m, "train_ratio": args.train_ratio,
        "rerank": args.rerank,
        "build_sec": round(t_adc_build, 2),
        "recall_at_10": round(sum(recalls) / len(recalls), 3),
        "recalls": recalls,
        "query_sec_mean": round(sum(t_adc_q) / len(t_adc_q), 2),
        "memory": adc.memory_stats()}
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
