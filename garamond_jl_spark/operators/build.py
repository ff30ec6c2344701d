"""Inverted-index build pipeline (SURVEY.md §3.2 Spark mapping).

Reference counterpart: ``build_search_env`` → ``build_embedder`` →
``build_searcher`` (/root/reference/src/searchable/env.jl:29-83,
src/embedder/interface.jl:59-99, src/searchable/searcher.jl:72-101) —
eager, single-process, in-memory.  This is the distributed re-design:

Shuffle budget (3 wide dependencies, each annotated below):

1. **tokenize + doc-local term counting** — ONE ``mapInPandas`` pass
   emits ``(term, doc_id, tf, doclen)`` with tf complete per document
   (counting happens inside the Arrow batch), so there is *no shuffle at
   all* to form raw postings — the classic map-side combine done at the
   document level.
2. **term statistics** — salted two-stage aggregation
   ``groupBy(term, salt) → groupBy(term)`` to defuse Zipf hot-term skew
   (north rule; AQE alone cannot split a single mega-key inside one
   ``groupBy`` stage, SURVEY.md §4.2).  [shuffle #1: by (term, salt),
   then a tiny by-term merge]
3. **weighting** — postings ⋈ terms on ``term`` brings idf to each
   posting (broadcast hash join while the dictionary fits, else
   sort-merge with AQE skew join); BM25 is a pure column expression
   (whole-stage codegen).  [shuffle #2: by term, sort-merge only]
4. **cosine norms** — ``sum(w²) over (partition by doc_id)`` window →
   ``wnorm = w / ‖d‖`` stored per posting, so query time needs NO join
   against doc norms.  [shuffle #3: by doc_id]

Persistence (``build_persistent``): stages write parquet tables (the
Iceberg stand-in, sources/tables.py) with per-bucket lineage rows
(docs tokenized, postings emitted, token total) and are
checkpoint-resumable: a killed build re-run with ``resume=True`` skips
every bucket whose lineage row and _SUCCESS marker exist.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType, StructField,
                               StructType)

from garamond_jl_spark.config import EngineConfig
from garamond_jl_spark.functions.scoring import idf_expr, weight_expr
from garamond_jl_spark.functions.textprep import tokenize_with_config
from garamond_jl_spark.session import local_frame

POSTINGS_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("doc_id", LongType(), False),
    StructField("tf", IntegerType(), False),
    StructField("doclen", IntegerType(), False),
])


@dataclass
class InvertedIndex:
    """The searchable state: 3 tables + scalar meta (the analog of the
    reference ``Searcher``, src/searchable/searcher.jl:8-17)."""

    docs: DataFrame       # doc_id, <carried cols>, doclen, norm
    terms: DataFrame      # term, df, tf_sum, idf
    postings: DataFrame   # term, doc_id, tf, doclen, w, wnorm
    meta: dict = field(default_factory=dict)
    # the tokenizer the index was BUILT with; query embedding must use
    # the same one or query terms miss the vocabulary (None = the
    # canonical prepare_and_tokenize(cfg) pipeline)
    tokenizer: object = None
    # optional per-term impact-ordered prefixes (term, doc_id, wnorm,
    # imp_rank) for the champion-list plan (operators/impact.py);
    # attached by load_index when the persistent index stored them
    champions: "DataFrame | None" = None
    # warm serving posture (operators/resident.py make_resident):
    # driver-held term stats + pad prefixes so a single request costs
    # one Spark job over the persisted postings instead of stats /
    # bucket / pad round-trips.  None = the default lazy posture.
    resident: object = None

    @property
    def cfg(self) -> EngineConfig:
        return self.meta["cfg"]


def assign_dense_ids(df: DataFrame, order_cols: list[str],
                     id_col: str = "doc_id") -> DataFrame:
    """Dense stable 0..n-1 ids (reference id-key contract,
    src/data/db.jl:47-55: must exist, dense, Int).

    ``monotonically_increasing_id`` is sparse; a single global
    ``row_number`` window is a one-partition bottleneck.  Scalable plan:
    range-repartition + in-partition sort by the key, per-partition
    ``row_number``, plus a broadcast map of per-partition row-count
    offsets (tiny driver collect of one count per partition).
    """
    part = df.repartitionByRange(*[F.col(c) for c in order_cols]) \
             .sortWithinPartitions(*order_cols) \
             .withColumn("_pid", F.spark_partition_id())
    # DISK_ONLY: the snapshot is read exactly twice (partition counts,
    # then the offset join) — caching the FULL corpus as in-memory row
    # objects evicted everything else and OOM'd 5g executors at 30M docs
    # (round-3 local-cluster protocol); disk-backed persistence costs
    # one sequential write/read and holds at any corpus size
    from pyspark import StorageLevel
    part = part.persist(StorageLevel.DISK_ONLY)
    # the snapshot stays pinned for the session (the returned plan
    # reads through it); sessions that assign ids repeatedly can
    # release the previous corpus via the handle attached below
    counts = part.groupBy("_pid").count().collect()
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["count"]
    spark = df.sparkSession
    # explicit schema: an EMPTY input yields offsets == [] and
    # schema inference would raise instead of returning an empty result
    off_df = F.broadcast(local_frame(spark,
        offsets, "_pid INT, _offset BIGINT"))
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    out = (part.join(off_df, "_pid")
           .withColumn(id_col, F.row_number().over(w) - 1 + F.col("_offset"))
           .drop("_pid", "_offset"))
    out._dense_ids_snapshot = part       # unpersist handle for callers
    out._dense_ids_total = acc           # exact row count, already paid
    return out


def tokenize_to_postings(docs: DataFrame, cfg: EngineConfig,
                         id_col: str = "doc_id",
                         text_col: str = "content",
                         tokenizer=None) -> DataFrame:
    """Stage 1: doc-local term counting in one Arrow pass (no shuffle).

    Equivalent relational plan would be ``explode → groupBy(term,
    doc_id)`` (shuffle); counting inside the document avoids it entirely
    because tf(t, d) only needs d's own tokens.

    Uses ``mapInArrow`` (RecordBatch in/out) rather than ``mapInPandas``:
    the per-batch pandas construction + pandas→Arrow conversion on the
    ~18-postings-per-doc output was the single largest build cost and is
    pure overhead here — the 1M-doc profile (BENCH.md round 2) measured
    the Arrow-direct emit at 1.9× the pandas path at both 8 and 32
    cores.

    ``tokenizer``: optional ``str -> list[str]`` override (default: the
    canonical prepare+tokenize pipeline under ``cfg``).
    """
    tok = tokenizer or (lambda s: tokenize_with_config(s, cfg))
    import pyarrow as pa
    arrow_schema = pa.schema([("term", pa.string()), ("doc_id", pa.int64()),
                              ("tf", pa.int32()), ("doclen", pa.int32())])

    def count_terms(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            ids = b.column(b.schema.get_field_index(id_col)).to_pylist()
            texts = b.column(b.schema.get_field_index(text_col)).to_pylist()
            out_term: list[str] = []
            out_doc: list[int] = []
            out_tf: list[int] = []
            out_len: list[int] = []
            ap_t, ap_d, ap_f, ap_l = (out_term.append, out_doc.append,
                                      out_tf.append, out_len.append)
            for doc_id, text in zip(ids, texts):
                toks = tok(text)
                counts: dict[str, int] = {}
                for t in toks:
                    counts[t] = counts.get(t, 0) + 1
                n = len(toks)
                for t, c in counts.items():
                    ap_t(t)
                    ap_d(doc_id)
                    ap_f(c)
                    ap_l(n)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_term, pa.string()),
                 pa.array(out_doc, pa.int64()),
                 pa.array(out_tf, pa.int32()),
                 pa.array(out_len, pa.int32())],
                schema=arrow_schema)

    return docs.select(id_col, text_col).mapInArrow(count_terms, POSTINGS_SCHEMA)


def term_stats(postings: DataFrame, n_docs: int,
               cfg: EngineConfig) -> DataFrame:
    """Stage 2: dictionary with df/idf via salted two-stage aggregation.

    ``postings`` is unique on (term, doc_id) so df = row count per term.
    Salting bounds the per-reducer key volume for Zipf head terms.

    Also carries ``tf_sum`` (Σ tf per term, exact integer) so corpus
    totals — Σ tf over ALL postings, i.e. avgdl·n_docs — are derivable
    from the vocabulary-sized dictionary without a second pass over the
    postings (r6: build_index folds the avgdl job into the terms job).
    """
    salted = (postings
              .withColumn("_salt", F.pmod(F.xxhash64("doc_id"),
                                          F.lit(cfg.term_salt_buckets)))
              .groupBy("term", "_salt")
              .agg(F.count("*").alias("_partial_df"),
                   F.sum("tf").alias("_partial_tf")))
    terms = (salted.groupBy("term")
             .agg(F.sum("_partial_df").alias("df"),
                  F.sum("_partial_tf").alias("tf_sum"))
             .withColumn("idf", idf_expr(float(n_docs), F.col("df").cast("double"))))
    return terms


WEIGHTED_COLS = ["term", "doc_id", "tf", "doclen", "idf", "w", "norm",
                 "wnorm"]

# above this vocabulary size the dictionary stops being comfortably
# broadcastable and weighted_postings delivers idf by a sort-merge join
BROADCAST_IDF_MAX_VOCAB = 4_000_000


def weight_and_norm(p: DataFrame, avgdl: float,
                    cfg: EngineConfig) -> DataFrame:
    """Add ``w`` (the weighting as a JVM expression over tf, doclen and
    idf), ``norm = ‖d‖`` as ``sqrt(sum(w²)) over (partition by doc_id)``
    and ``wnorm = w / norm``, so query time needs no join against doc
    norms.  The index build and the incremental append both weight
    through here."""
    w = weight_expr(cfg.weighting, F.col("tf").cast("double"),
                    F.col("doclen").cast("double"), F.lit(avgdl),
                    F.col("idf"), cfg)
    win = Window.partitionBy("doc_id")
    return (p.withColumn("w", w)
            .withColumn("norm",
                        F.sqrt(F.sum(F.col("w") * F.col("w")).over(win)))
            .withColumn("wnorm", F.col("w") / F.col("norm")))


def weighted_postings(postings: DataFrame, terms: DataFrame,
                      avgdl: float, cfg: EngineConfig,
                      n_terms: int) -> DataFrame:
    """Stages 3+4: per-posting weight ``w`` and L2-normalized
    ``wnorm = w/‖d‖`` (:func:`weight_and_norm`).

    idf reaches the postings by a forced broadcast hash join while the
    ``n_terms``-row dictionary fits (no shuffle of the postings by
    term), else by a sort-merge join.  The norms always take the one
    doc_id window shuffle: the broadcast-norms and Arrow-pass tiers
    lost every full-build A/B against it (BENCH.md "Shuffle-light
    weighting tiers") and were removed."""
    idf = terms.select("term", "idf")
    if n_terms <= BROADCAST_IDF_MAX_VOCAB:
        idf = F.broadcast(idf)
    return weight_and_norm(postings.join(idf, "term"), avgdl, cfg) \
        .select(*WEIGHTED_COLS)


def doc_table(docs: DataFrame, postings_w: DataFrame, id_col: str,
              carry_cols: list[str]) -> DataFrame:
    """docs side table: carried metadata + doclen + norm (diagnostics /
    hydration J2; schema per SURVEY.md §1.2)."""
    stats = (postings_w.groupBy("doc_id")
             .agg(F.first("doclen").alias("doclen"),
                  F.first("norm").alias("norm")))
    d = docs.select(F.col(id_col).alias("doc_id"), *carry_cols)
    return (d.join(stats, "doc_id", "left")
            .fillna({"doclen": 0, "norm": 0.0}))


def project_embeddable(docs: DataFrame, fields: list[str],
                       text_col: str = "content") -> DataFrame:
    """P1 field projection for embedding/indexing (reference
    dbentry2text, /root/reference/src/data/db.jl:23-43): select the
    configured embeddable fields, stringify, space-concatenate; missing
    columns contribute the empty string (db.jl:32-38)."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(""))
             if c in docs.columns else F.lit("") for c in fields]
    joined = F.array_join(F.array_remove(F.array(*parts), ""), " ")
    return docs.withColumn(text_col, joined)


def build_index(spark: SparkSession, docs: DataFrame, cfg: EngineConfig,
                id_col: str | None = "doc_id", text_col: str = "content",
                carry_cols: list[str] | None = None,
                tokenizer=None,
                embeddable_fields: list[str] | None = None) -> InvertedIndex:
    """In-memory (lazy) build — the test/query-dev path.  The persistent,
    checkpoint-resumable variant is :func:`build_persistent`.
    ``embeddable_fields``: build the indexed text by concatenating these
    columns (P1) instead of reading ``text_col`` directly."""
    if embeddable_fields:
        docs = project_embeddable(docs, embeddable_fields, text_col)
    if id_col is None:
        # dense-id assignment needs a deterministic total order; default
        # to the synthetic code-corpus key when present, otherwise any
        # non-text columns — hardcoding the git triple crashed every
        # non-code schema with an unresolved-column error
        order_cols = [c for c in ("repo", "path", "commit")
                      if c in docs.columns]
        if not order_cols:
            order_cols = sorted(c for c in docs.columns if c != text_col)
        if not order_cols:
            raise ValueError(
                "id_col=None needs at least one non-text column to "
                "order dense ids by; pass an explicit id_col")
        docs = assign_dense_ids(docs, order_cols)
        id_col = "doc_id"
    if carry_cols is None:
        carry_cols = [c for c in docs.columns if c not in (id_col, text_col)]
    # note (r6): widening a single-split scan before the tokenize pass
    # (repartition to 2·cores) was measured and REJECTED for this path —
    # interleaved same-JVM A/B at sf0.1: narrow 1.75-2.2 s vs wide
    # 2.55-2.60 s per build.  The extra shuffle plus 128-task stages
    # cost more than the single-task Python tokenize they parallelize;
    # big corpora arrive multi-split and never hit the question.
    postings = tokenize_to_postings(docs, cfg, id_col, text_col, tokenizer)
    # the raw postings are consumed exactly twice (the terms job below
    # and the weighting probe); r6 measurement: building their columnar
    # cache cost ~3× the tokenize pass itself (1.7 s vs 0.5 s at the
    # 50k-doc bench corpus — OPTIMIZATION_r06.md), so the cache is gone
    # and each consumer re-evaluates the cheap tokenize lineage instead
    n_docs = getattr(docs, "_dense_ids_total", None)
    if n_docs is None:
        n_docs = docs.count()
    terms = term_stats(postings, n_docs, cfg).persist()
    # ONE vocabulary-sized job yields n_terms AND the corpus token total
    # (Σ tf == Σ doclen, every token lands in exactly one (term, doc)
    # cell) — this replaces the former postings-wide sum(tf) job and the
    # separate terms.count() job; both values are exact integers so
    # avgdl is bit-identical to the two-job version
    trow = terms.agg(F.count("*").alias("n"),
                     F.sum("tf_sum").alias("s")).collect()[0]
    n_terms = int(trow["n"])
    total_len = int(trow["s"] or 0)
    avgdl = float(total_len) / n_docs if n_docs else 0.0
    # persist WEIGHTED postings: otherwise every query batch would re-run
    # the terms join and the doc_id norm window (a full shuffle) — the
    # persistent index stores wnorm for the same reason
    pw = weighted_postings(postings, terms, avgdl, cfg, n_terms).persist()
    dtab = doc_table(docs, pw, id_col, carry_cols)
    # "_aux_persist": build-time caches the returned index holds no
    # column handle to (the id_col=None dense-id DISK_ONLY corpus
    # snapshot; the raw tokenized postings are no longer cached at all)
    # — retire via server/rest._envop or bench._retire_index so
    # reindex/bench loops don't accumulate orphaned cache sets
    aux = []
    snap = getattr(docs, "_dense_ids_snapshot", None)
    if snap is not None:
        aux.append(snap)
    meta = {"_aux_persist": aux,
            "n_docs": n_docs, "avgdl": avgdl, "n_terms": n_terms,
            "cfg": cfg}
    return InvertedIndex(docs=dtab, terms=terms, postings=pw,
                         meta=meta, tokenizer=tokenizer)
