"""Spelling suggestions for missed needles (reference F10/A8).

Reference: BK-tree over the corpus lexicon queried with a configurable
string distance (/root/reference/src/searchable/searcher.jl:104-115,
src/search/index.jl:157-180; the distance family — Levenshtein,
DamerauLevenshtein, Hamming, Jaro — is selected per searcher config,
src/config/defaults.jl:79-84; suggestions disabled by default —
``heuristic=nothing``, defaults.jl:18).

Distributed shape: the BK-tree is a driver-side structure in the
reference because the lexicon ≪ corpus.  Here suggestions run as a
DataFrame program over the terms table: candidate pruning by the length
band |len(t) − len(q)| ≤ d (a valid lower bound for the Levenshtein /
Damerau / Hamming families, pushed into the scan), then the distance —
no quadratic cross join, no driver collect of the vocabulary.

Distance execution: ``levenshtein`` uses Spark's built-in JVM
expression; ``damerau`` (optimal-string-alignment variant), ``hamming``
(positional mismatches + length difference) and ``jaro`` (1 − Jaro
similarity, in [0,1]) run in an Arrow-batched pandas UDF over the
banded survivors only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from garamond_jl_spark.session import local_frame

DISTANCES = ("levenshtein", "damerau", "hamming", "jaro")


def damerau_levenshtein(a: str, b: str) -> int:
    """Optimal-string-alignment Damerau-Levenshtein (adjacent
    transposition counts 1; no substring re-edit)."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return la or lb
    prev2: list[int] = []
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        prev2, prev = prev, cur
    return prev[lb]


def hamming_distance(a: str, b: str) -> int:
    """Positional mismatches over the common prefix length plus the
    length difference (StringDistances.jl Hamming convention for
    unequal lengths)."""
    return sum(x != y for x, y in zip(a, b)) + abs(len(a) - len(b))


def jaro_distance(a: str, b: str) -> float:
    """1 − Jaro similarity (0 = identical, 1 = no common chars)."""
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 0.0
    if la == 0 or lb == 0:
        return 1.0
    # clamp at 0: the standard definition's window floor — negative
    # (length-1 strings) made the match loop empty so 'a' vs 'a'
    # scored distance 1.0 instead of 0.0
    window = max(0, max(la, lb) // 2 - 1)
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and b[j] == ca:
                match_a[i] = match_b[j] = True
                matches += 1
                break
    if matches == 0:
        return 1.0
    transpositions = 0
    j = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[j]:
                j += 1
            if a[i] != b[j]:
                transpositions += 1
            j += 1
    t = transpositions / 2
    sim = (matches / la + matches / lb + (matches - t) / matches) / 3.0
    return 1.0 - sim


_SCALAR = {"damerau": damerau_levenshtein, "hamming": hamming_distance,
           "jaro": jaro_distance}


def _distance_col(metric: str) -> Column:
    if metric == "levenshtein":
        return F.levenshtein("term", "needle").cast("double")
    fn = _SCALAR[metric]

    @F.pandas_udf(DoubleType())
    def dist(t: pd.Series, n: pd.Series) -> pd.Series:
        return pd.Series([float(fn(x or "", y or ""))
                          for x, y in zip(t, n)])

    return dist(F.col("term"), F.col("needle"))


def suggest_terms(terms: DataFrame, needles: list[str],
                  max_distance: float = 2, max_suggestions: int = 5,
                  metric: str = "levenshtein") -> DataFrame:
    """→ (needle, suggestion, distance, rank): for each OOV needle, the
    closest vocabulary terms under ``metric``, ties kept in term order
    (suggestion sort, results.jl:179-191).  ``max_distance`` is in the
    metric's own units (edits, or [0,1] for jaro — e.g. 0.25)."""
    if metric not in DISTANCES:
        raise ValueError(f"unknown distance metric: {metric!r} "
                         f"(choose from {DISTANCES})")
    spark = terms.sparkSession
    if not needles:
        return local_frame(spark,
            [], "needle STRING, suggestion STRING, distance DOUBLE, rank INT")
    ndf = local_frame(spark, [(n,) for n in needles], "needle STRING")
    if metric != "jaro":
        # |len diff| ≤ d lower-bounds every edit-family metric, and as a
        # banded EQUI-join key (needle fans out over its length band,
        # terms join on their length) it stays a hash join — the round-2
        # nested-loop crossJoin-then-filter shape degraded to |vocab| ×
        # |needles| comparisons for large suggestion batches
        d = int(max_distance)
        nband = ndf.select(
            "needle",
            F.explode(F.sequence(F.greatest(F.length("needle") - d,
                                            F.lit(1)),
                                 F.length("needle") + d)).alias("_len"))
        cand = (terms.select("term", F.length("term").alias("_len"))
                .join(F.broadcast(nband), "_len").drop("_len"))
    else:
        cand = terms.select("term").crossJoin(F.broadcast(ndf))
    cand = (cand.withColumn("distance", _distance_col(metric))
            .where(F.col("distance") <= max_distance))
    from pyspark.sql import Window
    w = Window.partitionBy("needle").orderBy(F.col("distance").asc(),
                                             F.col("term").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= max_suggestions)
            .select("needle", F.col("term").alias("suggestion"),
                    "distance", "rank"))


def missing_needles(terms: DataFrame, query_tokens: list[str]) -> list[str]:
    """U1 missed needles: query tokens ∖ vocabulary
    (src/search/index.jl:140-147)."""
    if not query_tokens:
        return []
    present = {r["term"] for r in
               terms.where(F.col("term").isin(query_tokens))
               .select("term").collect()}
    # dedupe (first-seen order): a repeated OOV token would duplicate
    # every candidate row and crowd distinct suggestions out of the
    # per-needle top max_suggestions
    seen: set = set()
    out = []
    for t in query_tokens:
        if t not in present and t not in seen:
            seen.add(t)
            out.append(t)
    return out
