"""Sharded HNSW at 1M vectors: build cost, per-request candidate
counts, latency and recall vs the exact scorer and the LSH index.

The question the 240-doc pytest can't answer: do 32 independent
31k-node Malkov-Yashunin graphs (a) build in parallel at acceptable
cost, (b) keep recall@10 at production ef on a clustered 1M corpus,
and (c) return candidate sets orders of magnitude under the corpus?

Protocol (BENCH.md rules): corpus materialized to parquet first
(shared with bench/ann_env.py), worker pool warmed with an untimed
pass, per-measure min-of-2, one Spark JVM.

Run: python bench/hnsw_scale.py [--docs 1000000] [--dim 16]
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

from garamond_jl_spark.operators.ann import (HNSWCandidateIndex,  # noqa: E402
                                             LSHCandidateIndex)
from garamond_jl_spark.operators.semantic import cosine_topk  # noqa: E402
from garamond_jl_spark.session import get_spark  # noqa: E402


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
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument("--M", type=int, default=8)
    ap.add_argument("--efc", type=int, default=100)
    ap.add_argument("--ef", type=int, default=50)
    ap.add_argument("--recall-queries", type=int, default=10)
    ap.add_argument("--ef-sweep", type=int, nargs="+", default=None,
                    help="probe the SAME built graph at these ef values "
                         "(recall/latency/candidates per ef; build once)")
    ap.add_argument("--select", default="heuristic",
                    choices=["heuristic", "simple"])
    ap.add_argument("--resident", action="store_true",
                    help="save the built index, reload with "
                         "resident=True, time cold vs warm batches "
                         "(worker-cached deserialized graphs)")
    args = ap.parse_args()

    spark = get_spark("hnsw-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    n, dim = args.docs, args.dim

    packed_path = f"{args.out}/packed_{n}_{dim}.parquet"
    long_path = f"{args.out}/long_{n}_{dim}.parquet"
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(args.clusters, dim)) * 3.0
    if not os.path.exists(packed_path):
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

    results: dict = {"docs": n, "dim": dim, "shards": args.shards,
                     "M": args.M, "ef_construction": args.efc,
                     "ef": args.ef, "select": args.select,
                     "loadavg": os.getloadavg()}

    # --- build: one applyInPandas pass, shards in parallel -------------
    t0 = time.time()
    idx = HNSWCandidateIndex.build(dv, dim=dim, M=args.M,
                                   ef_construction=args.efc, ef=args.ef,
                                   n_shards=args.shards, seed=0,
                                   packed=packed, select=args.select)
    n_graph = idx.graph.count()          # materialize + cache
    results["build_sec"] = round(time.time() - t0, 2)
    results["graph_rows"] = n_graph

    # --- batched search: candidates per query, latency, recall ---------
    qs = {}
    for qi in range(args.recall_queries):
        qc = centers[(qi * 137) % args.clusters] + 0.1 * rng.normal(size=dim)
        qs[qi] = [(i + 1, float(v)) for i, v in enumerate(qc)]

    t_batch = _timed(lambda: idx.candidates_batch(qs).count())
    n_cand = idx.candidates_batch(qs).count()
    results["search_batch"] = {
        "queries": len(qs),
        "batch_sec": round(t_batch, 2),
        "candidates_total": n_cand,
        "candidates_per_query": round(n_cand / len(qs), 1),
        "candidate_fraction": round(n_cand / len(qs) / n, 6)}

    # recall@10 of the exact-reranked candidates vs the exact scorer
    # (exact sets computed once; the ef sweep below reuses them)
    exact_sets = {qi: {r["doc_id"]
                       for r in cosine_topk(dv, {0: qv}, 10).collect()}
                  for qi, qv in qs.items()}
    recalls = []
    cand = idx.candidates_batch(qs).persist()
    cand.count()
    for qi, qv in qs.items():
        sub = dv.join(cand.where(F.col("query_id") == qi).select("doc_id"),
                      "doc_id", "left_semi")
        got = {r["doc_id"]
               for r in cosine_topk(sub, {0: qv}, 10).collect()}
        recalls.append(len(exact_sets[qi] & got) / 10)
    results["recall_at_10"] = round(sum(recalls) / len(recalls), 3)
    cand.unpersist()

    # --- ef sweep over the SAME graph (build amortized) -----------------
    if args.ef_sweep:
        sweep = []
        for ef in args.ef_sweep:
            t_ef = _timed(lambda: idx.candidates_batch(qs, ef=ef).count())
            cand = idx.candidates_batch(qs, ef=ef).persist()
            n_c = cand.count()
            recs = []
            for qi, qv in qs.items():
                sub = dv.join(cand.where(F.col("query_id") == qi)
                              .select("doc_id"), "doc_id", "left_semi")
                got = {r["doc_id"]
               for r in cosine_topk(sub, {0: qv}, 10).collect()}
                recs.append(len(exact_sets[qi] & got) / 10)
            cand.unpersist()
            sweep.append({"ef": ef, "batch_sec": round(t_ef, 2),
                          "candidates_per_query": round(n_c / len(qs), 1),
                          "recall_at_10": round(sum(recs) / len(recs), 3)})
        results["ef_sweep"] = sweep

    # --- resident serving plan: cold read vs worker-cached warm --------
    if args.resident:
        idx_dir = f"{args.out}/hnsw_idx_{n}_{dim}_{args.select}"
        t0 = time.time()
        idx.save(idx_dir)
        save_sec = round(time.time() - t0, 2)
        res = HNSWCandidateIndex.load(spark, idx_dir, resident=True)
        t0 = time.time()
        res.candidates_batch(qs).count()
        cold = round(time.time() - t0, 2)
        warms = []
        for _ in range(5):      # hit rate converges as workers populate
            t0 = time.time()
            res.candidates_batch(qs).count()
            warms.append(round(time.time() - t0, 2))
        results["resident"] = {"save_sec": save_sec, "cold_sec": cold,
                               "warm_secs": warms,
                               "warm_sec": min(warms)}

    # --- LSH reference point on the same corpus + queries --------------
    t0 = time.time()
    lsh = LSHCandidateIndex.build(dv, n_planes=12, radius=1, seed=0)
    lsh.buckets.count()
    results["lsh_build_sec"] = round(time.time() - t0, 2)
    t_lsh = _timed(lambda: lsh.candidates_batch(qs).count())
    results["lsh_batch_sec"] = round(t_lsh, 2)
    results["lsh_candidates_per_query"] = round(
        lsh.candidates_batch(qs).count() / len(qs), 1)

    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
