"""Weighting schemes as pure Spark SQL column expressions (A3-A5, F11).

These run JVM-side inside whole-stage codegen — zero Python in the
weighting path.  Formula provenance: [SA-public] constants pinned in
:mod:`garamond_jl_spark.config` (SURVEY.md §2.4.1); reference dispatch on
``config.vectors`` at /root/reference/src/embedder/interface.jl:87-98,
score transform at src/search/index.jl:186-202.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from garamond_jl_spark.config import EngineConfig


def tf_expr(cnt: Column, doclen: Column) -> Column:
    """tf(t,d) = sqrt(count / max(doclen, 1))   [SA-public]"""
    return F.sqrt(cnt / F.greatest(doclen, F.lit(1.0)))


def idf_expr(n_docs: Column | float, df: Column) -> Column:
    """idf(t) = log(n_docs / (df + 1)) + 1      [SA-public]"""
    return F.log(F.lit(n_docs) / (df + F.lit(1.0))) + F.lit(1.0)


def bm25_expr(cnt: Column, doclen: Column, avgdl: Column,
              idf: Column, cfg: EngineConfig) -> Column:
    """bm25(t,d) = idf·(κ+1)·tf / (κ·(1−β+β·doclen/avgdl) + tf)  [SA-public]"""
    tf = tf_expr(cnt, doclen)
    k, b = F.lit(cfg.kappa), F.lit(cfg.beta)
    return idf * ((k + F.lit(1.0)) * tf) / (
        k * (F.lit(1.0) - b + b * doclen / avgdl) + tf)


def weight_expr(scheme: str, cnt: Column, doclen: Column,
                avgdl: Column, idf: Column, cfg: EngineConfig) -> Column:
    """Dispatch on weighting scheme (interface.jl:87-98)."""
    if scheme == "count":
        return cnt.cast("double")
    if scheme == "tf":
        return tf_expr(cnt, doclen)
    if scheme == "tfidf":
        return tf_expr(cnt, doclen) * idf
    if scheme == "bm25":
        return bm25_expr(cnt, doclen, avgdl, idf, cfg)
    raise ValueError(f"unknown weighting scheme: {scheme}")


def score_transform_expr(dist: Column, alpha: float) -> Column:
    """F11: score = 1 − tanh(α · dist)  (src/search/index.jl:186-202)."""
    return F.lit(1.0) - F.tanh(F.lit(alpha) * dist)


def e6(col: Column) -> Column:
    """round(x·10⁶) as BIGINT: a float score in hash-stable units."""
    return F.round(col * F.lit(1e6), 0).cast("long")


def score_transform(dist: float, alpha: float) -> float:
    """Scalar twin of :func:`score_transform_expr` — the ONE definition
    every driver-side fill/certificate computation must route through so
    the pinned transform cannot silently diverge between the
    oracle-checked column path and scalar call sites."""
    import math
    return 1.0 - math.tanh(alpha * dist)


def score_transform_np(dists, alpha: float):
    """ndarray twin of :func:`score_transform_expr` for the packed
    mapInArrow scorers (operators/semantic.py).  ``oracle.py`` keeps an
    intentionally INDEPENDENT copy: the NumPy oracle must not share
    engine code, or a helper bug would escape both sides of the
    rank-identity check."""
    import numpy as np
    return 1.0 - np.tanh(alpha * dists)
