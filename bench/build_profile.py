"""Per-stage build profile at one parallelism level (VERDICT r1 #9:
find where the 8→32-core build cycles go).  Invoked in a fresh JVM per
level by bench/build_scaling_profile.py.

Stages timed independently (each materialized with .count() /
parquet write so the measurement is that stage's work, not lazy
accumulation):

  tokenize   mapInPandas Arrow pass (Python-worker CPU)
  termstats  salted two-stage groupBy (shuffle #1)
  weighting  terms join + doc_id norm window (shuffles #2+#3)
  persist    write weighted postings to parquet (storage path)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from garamond_jl_spark.config import EngineConfig  # noqa: E402
from garamond_jl_spark.corpus import corpus_df  # noqa: E402
from garamond_jl_spark.operators.build import (term_stats,  # noqa: E402
                                               tokenize_to_postings,
                                               weighted_postings)
from garamond_jl_spark.session import get_spark  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402
from pyspark.storagelevel import StorageLevel  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark(f"profile-{args.cpus}", cpus=args.cpus,
                      shuffle_partitions=None)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig()

    corpus_dir = f"/tmp/garamond_profile_corpus_{args.docs}"
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        from garamond_jl_spark.operators.build import assign_dense_ids
        assign_dense_ids(corpus_df(spark, args.docs, seed=42,
                                   partitions=args.partitions),
                         ["repo", "path", "commit"]) \
            .write.mode("overwrite").parquet(corpus_dir)
    docs = spark.read.parquet(corpus_dir)
    n_docs = docs.count()

    # warm the full python worker pool + codegen (untimed)
    tokenize_to_postings(docs.sample(0.02, seed=1), cfg, "doc_id",
                         "content").count()

    t = {k: float("inf") for k in
         ("tokenize", "termstats", "weighting", "persist")}
    for _ in range(args.repeat):
        t0 = time.time()
        raw = tokenize_to_postings(docs, cfg, "doc_id", "content")
        raw.count()
        t["tokenize"] = min(t["tokenize"], time.time() - t0)

        raw_p = raw.persist(StorageLevel.MEMORY_AND_DISK)
        raw_p.count()  # untimed: materialize input for the next stages

        t0 = time.time()
        terms = term_stats(raw_p, n_docs, cfg)
        terms.count()
        t["termstats"] = min(t["termstats"], time.time() - t0)

        terms_p = terms.persist()
        n_terms = terms_p.count()
        total_len = raw_p.agg(F.sum("tf")).collect()[0][0] or 0
        avgdl = float(total_len) / n_docs

        t0 = time.time()
        pw = weighted_postings(raw_p, terms_p, avgdl, cfg, n_terms)
        pw.count()
        t["weighting"] = min(t["weighting"], time.time() - t0)

        t0 = time.time()
        pw.write.mode("overwrite").parquet(f"/tmp/garamond_profile_pw_{args.cpus}")
        t["persist"] = min(t["persist"], time.time() - t0)

        raw_p.unpersist()
        terms_p.unpersist()

    print(json.dumps({"cpus": args.cpus, "docs": n_docs,
                      **{k: round(v, 2) for k, v in t.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
