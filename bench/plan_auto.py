"""Plan auto-dispatch validation (VERDICT r2 item 10): on both workload
shapes, ``search(plan="auto")`` must match the better of exact/impact
within noise.

Shapes:
* ``hot``  — many queries sharing the hottest terms (the impact plan's
  winning batch shape, BENCH.md round 2: 7.4× at 200 q / 1M docs);
* ``cold`` — a small batch over mid/low-df terms (exact's home turf,
  where impact's extra driver round-trips are pure overhead).

Usage: python bench/plan_auto.py [--docs 1000000] [--cpus 32]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from garamond_jl_spark.config import EngineConfig  # noqa: E402
from garamond_jl_spark.corpus import corpus_df  # noqa: E402
from garamond_jl_spark.operators.build import assign_dense_ids  # noqa: E402
from garamond_jl_spark.operators.persist import (build_persistent,  # noqa: E402
                                                 load_index)
from garamond_jl_spark.operators.query import choose_plan, search  # noqa: E402
from garamond_jl_spark.session import get_spark  # noqa: E402


def time_plan(spark, idx, queries, plan, repeats=2):
    best, chosen = None, None
    for _ in range(repeats):
        stats: dict = {}
        t0 = time.time()
        search(spark, idx, queries, k=10, hydrate=False, plan=plan,
               stats=stats).count()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
        chosen = stats.get("plan")
    return round(best, 2), chosen


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    spark = get_spark(f"plan-auto-{args.cpus}", cpus=args.cpus,
                      shuffle_partitions=None)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = EngineConfig()
    idx_dir = f"/tmp/garamond_plan_auto_idx_{args.docs}"
    if not os.path.exists(os.path.join(idx_dir, "meta.json")):
        docs = assign_dense_ids(
            corpus_df(spark, args.docs, seed=42, partitions=64),
            ["repo", "path", "commit"])
        build_persistent(spark, docs, cfg, idx_dir, n_buckets=4)
    idx = load_index(spark, idx_dir)

    hot = [r["term"] for r in idx.terms.orderBy(F.col("df").desc())
           .limit(12).collect()]
    mid = [r["term"] for r in idx.terms
           .where((F.col("df") > 50) & (F.col("df") < 2000))
           .orderBy("term").limit(40).collect()]
    workloads = {
        "hot": [f"{hot[i % 6]} {hot[(i + 3) % 9]} {hot[(i + 7) % 12]}"
                for i in range(200)],
        "cold": [f"{mid[i % len(mid)]} {mid[(i * 7 + 3) % len(mid)]}"
                 for i in range(16)],
    }
    # warm codegen/python on a tiny query (untimed)
    search(spark, idx, [workloads["cold"][0]], k=5, hydrate=False).count()

    out = {"docs": args.docs, "cpus": args.cpus}
    for name, queries in workloads.items():
        exact_t, _ = time_plan(spark, idx, queries, "exact")
        impact_t, _ = time_plan(spark, idx, queries, "impact")
        auto_t, auto_plan = time_plan(spark, idx, queries, "auto")
        out[name] = {
            "exact_sec": exact_t, "impact_sec": impact_t,
            "auto_sec": auto_t, "auto_chose": auto_plan,
            "model_choice": choose_plan(idx, queries),
            "auto_ok": auto_t <= min(exact_t, impact_t) * 1.25,
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
