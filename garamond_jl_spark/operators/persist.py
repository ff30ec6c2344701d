"""Persistent, checkpoint-resumable index build (SURVEY.md §7.1 M2).

North-rule requirements covered here:

* index state + posting segments live as Iceberg/parquet tables
  (sources/tables.py abstraction — parquet in this sandbox),
* the build is **checkpoint-resumable with per-partition lineage and
  metrics** (docs tokenized, postings emitted, token total).

Design: the expensive stage (tokenize → postings) is sharded into
``n_buckets`` deterministic document buckets
(``pmod(xxhash64(id), n_buckets)``).  Each bucket is one Spark job
writing ``postings_raw/bucket=K/`` plus a lineage row; a killed build
re-run with ``resume=True`` skips buckets whose lineage row exists and
recomputes only the missing ones.  Bucket content is a pure function of
the input, so a resumed build is byte-identical to an uninterrupted one
(verified in tests).  Downstream stages (terms/weights/champions/docs/
meta) are cheap relative to tokenization and re-run as single jobs
gated by their _SUCCESS markers.

The reference's analog is whole-environment serialize/deserialize
(S4, /root/reference/src/searchable/env.jl:31-39) — all-or-nothing and
in-memory; bucket-level lineage is the distributed upgrade.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from garamond_jl_spark.config import EngineConfig, cfg_from_dict, cfg_to_dict
from garamond_jl_spark.operators.build import (InvertedIndex, doc_table,
                                               term_stats,
                                               tokenize_to_postings,
                                               weighted_postings)
from garamond_jl_spark.session import local_frame

LINEAGE_COLS = ("bucket BIGINT, docs_tokenized BIGINT, postings_emitted "
                "BIGINT, sum_doclen BIGINT, wall_sec DOUBLE, finished_at "
                "STRING")


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def write_bucketed_postings(df: DataFrame, path: str, term_buckets: int,
                            splits: int = 8,
                            mode: str = "overwrite") -> None:
    """Write weighted postings in the term-bucketed serving layout:
    parquet partitioned by ``_tb = pmod(xxhash64(term), term_buckets)``
    so :func:`~garamond_jl_spark.operators.query.pruned_postings` can
    restrict query scans to the buckets holding the batch's terms.

    The write is SALTED by doc_id into ``splits`` files per bucket dir:
    grouping a whole Zipf-hot term's postings into one file makes that
    file one scan task whose broadcast-join OUTPUT dwarfs every other
    task's (measured 2.5× batch-query straggler at 1M docs,
    bench/term_buckets_bench.py) — splitting by doc_id hash caps any
    task at 1/S of any term's postings while dir-level pruning is
    unchanged.  An existing ``_tb`` column is reused (idempotent — the
    bucket id is a pure function of ``term``)."""
    if "_tb" not in df.columns:
        df = df.withColumn(
            "_tb", F.pmod(F.xxhash64("term"), F.lit(term_buckets)))
    salt = (F.pmod(F.xxhash64("doc_id"), F.lit(splits))
            if splits > 1 else F.lit(0))
    df.repartition(term_buckets * splits, "_tb", salt).write \
        .partitionBy("_tb").mode(mode).parquet(path)


def build_persistent(spark: SparkSession, docs: DataFrame, cfg: EngineConfig,
                     out_dir: str, id_col: str = "doc_id",
                     text_col: str = "content",
                     carry_cols: list[str] | None = None,
                     n_buckets: int = 8, resume: bool = False,
                     tokenizer=None, retain_content: bool = False,
                     champion_p: int = 8192,
                     term_buckets: int = 0,
                     term_bucket_splits: int = 8) -> InvertedIndex:
    """Build the index into ``out_dir/{postings_raw,terms,postings,
    champions,docs,meta,lineage}``.  ``resume=True`` skips completed
    buckets and completed downstream stages.  ``retain_content=True``
    keeps the text column in the docs table (Lucene stored-field style)
    so ``compact(recompute_stats=True)`` can fully reindex from the
    index's own state."""
    os.makedirs(out_dir, exist_ok=True)
    if carry_cols is None:
        carry_cols = [c for c in docs.columns if c not in (id_col, text_col)]
    if retain_content and text_col not in carry_cols:
        carry_cols = [*carry_cols, text_col]
    lineage_dir = os.path.join(out_dir, "lineage")
    praw_dir = os.path.join(out_dir, "postings_raw")

    # ---- stage 1: tokenize → postings, bucket-sharded, resumable --------
    done_buckets: set[int] = set()
    if resume and os.path.exists(lineage_dir):
        try:
            done_buckets = {r["bucket"] for r in
                            spark.read.parquet(lineage_dir).collect()}
        except Exception:
            done_buckets = set()
    bucketed = docs.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)))
    for b in range(n_buckets):
        if b in done_buckets:
            continue
        t0 = time.time()
        part = bucketed.where(F.col("_bucket") == b).drop("_bucket")
        postings_b = tokenize_to_postings(part, cfg, id_col, text_col,
                                          tokenizer)
        postings_b.write.mode("overwrite").parquet(
            os.path.join(praw_dir, f"bucket={b}"))
        stats = spark.read.parquet(os.path.join(praw_dir, f"bucket={b}")) \
            .agg(F.countDistinct("doc_id").alias("d"),
                 F.count("*").alias("p"),
                 F.sum("tf").alias("s")).collect()[0]
        lineage_row = local_frame(spark,
            [(b, stats["d"] or 0, stats["p"] or 0, int(stats["s"] or 0),
              time.time() - t0, time.strftime("%Y-%m-%dT%H:%M:%S"))],
            LINEAGE_COLS)
        lineage_row.write.mode("append").parquet(lineage_dir)

    postings = spark.read.option("basePath", praw_dir).parquet(praw_dir) \
        .select("term", "doc_id", "tf", "doclen")

    # ---- downstream stages (single jobs, _SUCCESS-gated) -----------------
    n_docs = docs.count()
    # Σ tf == Σ doclen (see build.build_index) — scalar agg, no shuffle
    total_len = postings.agg(F.sum("tf").alias("s")).collect()[0]["s"] or 0
    avgdl = float(total_len) / n_docs if n_docs else 0.0

    terms_dir = os.path.join(out_dir, "terms")
    if not (resume and _done(terms_dir)):
        term_stats(postings, n_docs, cfg).write.mode("overwrite") \
            .parquet(terms_dir)
    terms = spark.read.parquet(terms_dir)

    n_terms = terms.count()

    pw_dir = os.path.join(out_dir, "postings")
    if not (resume and _done(pw_dir)):
        pw_out = weighted_postings(postings, terms, avgdl, cfg, n_terms)
        if term_buckets:
            # term-bucketed layout: postings partitioned by
            # pmod(xxhash64(term), term_buckets) so query plans prune
            # the scan to the buckets holding the query's terms
            # (operators/query.pruned_postings) — exact-plan I/O becomes
            # ∝ buckets touched, not index size.
            write_bucketed_postings(pw_out, pw_dir, term_buckets,
                                    term_bucket_splits)
        else:
            pw_out.write.mode("overwrite").parquet(pw_dir)
    pw = spark.read.parquet(pw_dir)

    champ_dir = os.path.join(out_dir, "champions")
    if champion_p and not (resume and _done(champ_dir)):
        # per-term impact-ordered prefix for the champion-list plan
        # (operators/impact.py) — any query-time p ≤ champion_p is
        # served by filtering imp_rank ≤ p
        from garamond_jl_spark.operators.impact import champion_lists
        champion_lists(
            InvertedIndex(docs=docs, terms=terms, postings=pw),
            champion_p).write.mode("overwrite").parquet(champ_dir)
    champs = spark.read.parquet(champ_dir) if champion_p else None

    docs_dir = os.path.join(out_dir, "docs")
    if not (resume and _done(docs_dir)):
        doc_table(docs, pw, id_col, carry_cols).write.mode("overwrite") \
            .parquet(docs_dir)
    dtab = spark.read.parquet(docs_dir)

    # meta.json must round-trip EVERY EngineConfig field the query path
    # reads (CLAUDE.md pinned rule) — the full cfg dict, not a cherry-pick.
    # Legacy top-level scoring keys are kept for older readers.
    meta = {"n_docs": n_docs, "avgdl": avgdl, "n_terms": n_terms,
            "term_buckets": term_buckets,
            "term_bucket_splits": term_bucket_splits,
            "weighting": cfg.weighting,
            "kappa": cfg.kappa, "beta": cfg.beta,
            "score_alpha": cfg.score_alpha,
            "cfg": cfg_to_dict(cfg), "id_col": id_col, "text_col": text_col,
            "retain_content": retain_content,
            "champion_p": champion_p,
            "tokenizer_id": (getattr(tokenizer, "__name__", "custom")
                             if tokenizer is not None else None)}
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)

    return InvertedIndex(docs=dtab, terms=terms, postings=pw,
                         meta={"n_docs": n_docs, "avgdl": avgdl, "cfg": cfg,
                               "n_terms": n_terms,
                               "term_buckets": term_buckets,
                               "term_bucket_splits": term_bucket_splits,
                               "champion_p": champion_p},
                         tokenizer=tokenizer, champions=champs)


def read_meta(out_dir: str) -> tuple[dict, EngineConfig]:
    """meta.json → (raw dict, reconstructed EngineConfig).  Prefers the
    full round-tripped ``cfg`` block; falls back to legacy scalar keys."""
    with open(os.path.join(out_dir, "meta.json")) as f:
        m = json.load(f)
    if "cfg" in m:
        cfg = cfg_from_dict(m["cfg"])
    else:  # legacy meta (pre-round-2): scoring keys only
        cfg = EngineConfig(kappa=m["kappa"], beta=m["beta"],
                           score_alpha=m["score_alpha"],
                           weighting=m["weighting"])
    return m, cfg


def _check_tokenizer(m: dict, tokenizer) -> None:
    """Query embedding must tokenize like the build did, or query terms
    silently miss the vocabulary.  The stored id is a best-effort name
    match (two different functions sharing a __name__ still pass), but
    it catches the common mistakes: forgetting the tokenizer, passing a
    DIFFERENT named one, or passing one to a default-pipeline index."""
    stored = m.get("tokenizer_id")
    given = (getattr(tokenizer, "__name__", "custom")
             if tokenizer is not None else None)
    if stored and given is None:
        raise ValueError(
            f"index was built with custom tokenizer {stored!r}; pass "
            f"the same tokenizer= to open it")
    if stored is None and given is not None:
        raise ValueError(
            f"index was built with the default tokenizer pipeline; "
            f"opening it with tokenizer={given!r} would mis-tokenize "
            f"queries (rebuild with the tokenizer, or open without)")
    if stored and given and stored != given:
        raise ValueError(
            f"index was built with tokenizer {stored!r}, got {given!r}")


def load_index(spark: SparkSession, out_dir: str,
               tokenizer=None, resident: bool = False) -> InvertedIndex:
    """Open a persisted index — the 'load cache' path (env.jl:31-39
    analog): just table reads, no recompute.  An index built with a
    custom ``tokenizer`` must be opened with the same one.  Tables an
    older engine wrote for the retired block-max WAND plan are never
    read.

    ``resident=True`` switches to the warm serving posture
    (operators/resident.py): tables persisted + materialized, term
    stats and pad prefixes driver-held, so a single request costs one
    Spark job — the long-lived ``gars`` server default."""
    m, cfg = read_meta(out_dir)
    _check_tokenizer(m, tokenizer)
    champ_dir = os.path.join(out_dir, "champions")
    champs = (spark.read.parquet(champ_dir)
              if os.path.exists(os.path.join(champ_dir, "_SUCCESS"))
              else None)
    idx = InvertedIndex(
        docs=spark.read.parquet(os.path.join(out_dir, "docs")),
        terms=spark.read.parquet(os.path.join(out_dir, "terms")),
        postings=spark.read.parquet(os.path.join(out_dir, "postings")),
        meta={"n_docs": m["n_docs"], "avgdl": m["avgdl"], "cfg": cfg,
              "n_terms": m.get("n_terms"),
              "term_buckets": m.get("term_buckets"),
              "term_bucket_splits": m.get("term_bucket_splits"),
              "champion_p": m.get("champion_p")},
        tokenizer=tokenizer, champions=champs)
    if resident:
        from garamond_jl_spark.operators.resident import make_resident
        make_resident(spark, idx)
    return idx


def lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-bucket build lineage + metrics (north-rule observability)."""
    return spark.read.parquet(os.path.join(out_dir, "lineage"))
