"""Multi-searcher result aggregation (reference A6) and suggestion
squash (A8/F10).

Reference: /root/reference/src/search/results.jl:54-145 — per-doc score
matrix over searchers, weighted by ``score_weight · custom_weight``,
reduced by one of {mean, min, max, median, product}; zero-score docs
dropped; re-sorted descending; trimmed to max_matches.  Default strategy
:mean (src/config/defaults.jl:29).

Spark mapping: the lifecycle merge (plans/lifecycle.merge) unions the
per-searcher weighted scores and groups them by (query_id, doc_id)
with the strategy's aggregate.  Median uses exact ``percentile`` (hit
sets are k-bounded); product uses Spark's exact ``product`` aggregate
(an exp(sum(log)) rewrite silently DROPPED zero/negative factors —
Spark's log of a non-positive value is NULL and sum skips NULLs, so a
muted searcher's 0.0 never zeroed the product).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def strategy_agg(grouped, strategy: str) -> DataFrame:
    """THE A6 reduction as a grouped aggregate over long-format
    (..., wscore) rows — the one Spark-side definition of the five
    strategy formulas (plans/lifecycle.merge).  Unknown strategies
    reduce as :mean, the reference default (defaults.jl:29)."""
    if strategy == "min":
        return grouped.agg(F.min("wscore").alias("score"))
    if strategy == "max":
        return grouped.agg(F.max("wscore").alias("score"))
    if strategy == "median":
        return grouped.agg(F.expr("percentile(wscore, 0.5)").alias("score"))
    if strategy == "product":
        # exact product (results.jl prod): a zero factor must zero the
        # doc — the old exp(sum(log)) form NULLed it out of the sum
        return grouped.agg(F.product("wscore").alias("score"))
    return grouped.agg(F.avg("wscore").alias("score"))     # mean default


def strategy_scalar(values: list[float], strategy: str) -> float:
    """Scalar twin of :func:`strategy_agg`: the lifecycle merge's pad
    score (per query, over the live searchers' weighted fills) for
    every batch size — change only together.  Empty input is a caller
    error for EVERY strategy (the product identity 1.0 would silently
    out-rank real scores)."""
    if not values:
        raise ValueError("strategy_scalar needs at least one value")
    if strategy == "min":
        return min(values)
    if strategy == "max":
        return max(values)
    if strategy == "median":
        import statistics
        return statistics.median(values)
    if strategy == "product":
        from functools import reduce
        return reduce(lambda a, b: a * b, values, 1.0)
    return sum(values) / len(values)                       # mean default
