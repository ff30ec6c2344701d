"""Block-max WAND top-k over packed posting blocks (SURVEY.md §7.1 M3).

North-star requirement: "answer top-k queries with Okapi BM25 using
block-max WAND pruning over posting blocks".  The classical algorithm
(Broder et al. WAND; Ding & Suel block-max) is a sequential cursor walk;
this is its *batch/distributed* re-derivation as two DataFrame phases:

Phase 1 — θ seeding (cheap): for each (query, term) unpack only the
single block with the highest block_max; the k-th best *partial* cosine
over those docs is a valid lower bound θ of the true k-th best score
(partial ≤ true, so the k-th largest partial among any k candidates
bounds the k-th true from below).

Phase 2 — block pruning (pure SQL, no unpacking): a block b of term t
upper-bounds any member doc's cosine by

    ub(b) = qw_t·block_max(t, b) + Σ_{t'≠t} qw_{t'}·term_max(t')

(sum over the query's other terms uses the global per-term max).  Blocks
with ub < θ are dropped WITHOUT being unpacked.  Soundness: doc d in a
pruned block has true score ≤ ub < θ ≤ k-th true score, so d cannot be
in the top-k; and any top-k doc has true ≥ θ, hence none of its blocks
is pruned, hence its final score is computed exactly — the plan is
rank-identical to the exact plan (asserted in tests).

Phase 3 — exact scoring of survivors: distinct surviving blocks are
unpacked once (Arrow-vectorized numpy codec, no per-row Python), joined
to the broadcast query weights, group-summed, transformed, ranked.

All pruning decisions happen in cosine space (the score transform is
monotone), so θ comparisons are exact.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from garamond_jl_spark.functions.codec import unpack_f32, unpack_ids
from garamond_jl_spark.functions.scoring import score_transform_expr
from garamond_jl_spark.operators.build import InvertedIndex
from garamond_jl_spark.operators.query import (embed_queries, pruned_postings,
                                              zero_pad)

UNPACKED_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("min_doc_id", LongType(), False),
    StructField("doc_id", LongType(), False),
    StructField("wnorm", DoubleType(), False),
])


def _unpack_blocks(blocks: DataFrame) -> DataFrame:
    """blocks → flat (term, min_doc_id, doc_id, wnorm) rows via the
    vectorized varbyte/f32 codec inside mapInPandas."""

    def unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            terms, mins, ids, ws = [], [], [], []
            for term, mn, idbuf, wbuf in zip(b["term"], b["min_doc_id"],
                                             b["ids"], b["wnorms"]):
                di = unpack_ids(bytes(idbuf)).astype(np.int64)
                wn = unpack_f32(bytes(wbuf)).astype(np.float64)
                terms.append(np.full(len(di), term, dtype=object))
                mins.append(np.full(len(di), mn, dtype=np.int64))
                ids.append(di)
                ws.append(wn)
            if ids:
                yield pd.DataFrame({
                    "term": np.concatenate(terms),
                    "min_doc_id": np.concatenate(mins),
                    "doc_id": np.concatenate(ids),
                    "wnorm": np.concatenate(ws)})
            else:
                yield pd.DataFrame({"term": [], "min_doc_id": [],
                                    "doc_id": [], "wnorm": []})

    return blocks.select("term", "min_doc_id", "ids", "wnorms") \
        .mapInPandas(unpack, UNPACKED_SCHEMA)


def wand_topk(spark: SparkSession, index: InvertedIndex,
              queries: list[str], k: int = 10,
              tiebreak_round: int | None = None,
              scoring: str = "flat", pad_to_k: bool = True) -> DataFrame:
    """Batched block-max WAND top-k → (query_id, doc_id, score, rank).
    Requires ``index.blocks`` (build with with_blocks=True / persistent).

    ``pad_to_k`` appends the dense-knn fill rows exactly as
    ``topk_plan`` does.  Soundness with pruning: a query prunes blocks
    only when θ > 0, which requires ≥ k seed docs with partial cosine
    ≥ θ — those k docs all survive (true ≥ partial ≥ θ), so whenever
    pruning removed anything the query already has ≥ k real hits and no
    pad row can enter its top-k; when matches < k, θ = 0, nothing is
    pruned, and padding is identical to the exact plan's.

    ``scoring``:
    * ``"flat"`` (default) — hybrid: blocks serve only as the pruning
      skeleton; surviving (term, doc-range) keys range-join the FLAT
      postings table and scoring stays entirely JVM-side.  Every posting
      falls in exactly one block of its term, so the range join cannot
      duplicate.  Wins whenever the Arrow unpack cost would exceed the
      I/O saved — which is most of the time when postings are already
      columnar/persisted.
    * ``"blocks"`` — classic: unpack surviving packed blocks via the
      varbyte codec (the only plan when flat postings are not stored,
      e.g. a compressed-only deployment reading cold object storage).
    """
    if index.blocks is None:
        raise ValueError(
            "index has no packed blocks (built without with_blocks, or "
            "an incremental live view — blocks cover only the compacted "
            "store; compact() first or use plan='exact'/'impact')")
    cfg = index.cfg
    qterms = embed_queries(spark, index, queries)
    qt = (qterms.join(index.terms.select("term", "term_max_wnorm"), "term")
          .withColumn("qmax", F.col("qw") * F.col("term_max_wnorm")))
    s_all = qt.groupBy("query_id").agg(F.sum("qmax").alias("s_all"))
    qt = F.broadcast(qt.join(s_all, "query_id"))

    qblocks = qt.join(
        index.blocks.select("term", "min_doc_id", "block_max_wnorm"), "term") \
        .withColumn("ub", F.col("qw") * F.col("block_max_wnorm")
                    + F.col("s_all") - F.col("qmax"))

    # terms below min_block_df have no blocks (build.pack_blocks): their
    # short posting lists are always scored in full from flat postings
    # (partition-pruned to the query's term buckets) — both for θ
    # seeding (they sharpen it cheaply) and in phase 3
    blocked_terms = qblocks.select("term").distinct()
    unblocked_posts = (pruned_postings(index, qterms)
                       .select("term", "doc_id", "wnorm")
                       .join(F.broadcast(
                           qt.select("term").distinct()
                           .join(blocked_terms, "term", "left_anti")), "term"))

    # ---- phase 1: θ from top-1 block per (query, term) + rare terms ------
    w_seed = Window.partitionBy("query_id", "term") \
        .orderBy(F.col("block_max_wnorm").desc(), F.col("min_doc_id").asc())
    seed_keys = (qblocks.withColumn("_rn", F.row_number().over(w_seed))
                 .where(F.col("_rn") == 1)
                 .select("term", "min_doc_id").distinct())
    seed_posts = _unpack_blocks(
        index.blocks.join(F.broadcast(seed_keys), ["term", "min_doc_id"])) \
        .select("term", "doc_id", "wnorm") \
        .unionByName(unblocked_posts)
    seed_partial = (seed_posts.join(qt.select("query_id", "term", "qw"), "term")
                    .groupBy("query_id", "doc_id")
                    .agg(F.sum(F.col("qw") * F.col("wnorm")).alias("pcos")))
    w_theta = Window.partitionBy("query_id").orderBy(F.col("pcos").desc())
    theta = (seed_partial.withColumn("_rn", F.row_number().over(w_theta))
             .where(F.col("_rn") <= k)
             .groupBy("query_id")
             .agg(F.when(F.count("*") >= k, F.min("pcos"))
                  .otherwise(F.lit(0.0)).alias("theta")))
    # θ is |queries| rows but sits on top of the seed-unpack sub-DAG;
    # materialize it so later plan branches don't recompute that chain
    theta = theta.persist()
    theta.count()

    # ---- phase 2: SQL-only block pruning ---------------------------------
    # rounded-tiebreak margin: the exact plan ranks on round(score, r),
    # so a doc whose true score sits just BELOW θ can still round into
    # a tie with the k-th doc and win the doc_id tiebreak.  Widen the
    # keep-region by the cosine-space equivalent of one rounding ulp
    # (score is Lipschitz in cos with derivative ≥ α·sech²(α) on
    # cos ∈ [0,1], so Δcos = 10^-r / that bound over-covers Δscore =
    # 10^-r) — same parity concern impact.py handles on its certificate.
    if tiebreak_round is not None:
        import math
        d_min = cfg.score_alpha / math.cosh(cfg.score_alpha) ** 2
        tie_margin = (10.0 ** -tiebreak_round) / d_min
    else:
        tie_margin = 0.0
    pruned = (qblocks.join(F.broadcast(theta), "query_id", "left")
              .withColumn("theta", F.coalesce("theta", F.lit(0.0)))
              .where(F.col("ub") >= F.col("theta") - F.lit(tie_margin)))
    survivors = pruned.select("term", "min_doc_id").distinct().persist()

    # ---- phase 3: exact scoring of survivors -----------------------------
    if scoring == "flat":
        # bucket-level semi-join: reuse the packer's df-adaptive stride
        # (build.block_strides — ONE definition, no drift) so posting →
        # bucket is an EQUI-join key — no range-join blow-up, fully
        # JVM-side.  A bucket survives if any of its blocks survives
        # (conservative, sound: never removes docs that pruning kept).
        # Strides and the postings scan are both restricted to the
        # QUERY's terms — joining all blocked terms of the index paid a
        # whole-index scan per batch — and the scan goes through
        # pruned_postings for the term-bucketed partition pruning the
        # exact/impact plans already get.
        from garamond_jl_spark.operators.build import block_strides
        q_term_df = qt.select("term").distinct()
        strides = block_strides(index.terms, index.meta["n_docs"], cfg) \
            .join(F.broadcast(q_term_df), "term", "left_semi")
        surv_buckets = (survivors.join(strides, "term")
                        .select("term", (F.col("min_doc_id") / F.col("_stride"))
                                .cast("long").alias("_bucket"))
                        .distinct())
        posts = (pruned_postings(index, qterms)
                 .select("term", "doc_id", "wnorm")
                 .join(strides, "term")
                 .withColumn("_bucket", (F.col("doc_id") / F.col("_stride"))
                             .cast("long"))
                 .join(surv_buckets, ["term", "_bucket"], "left_semi")
                 .select("term", "doc_id", "wnorm")
                 .unionByName(unblocked_posts))
    else:
        posts = _unpack_blocks(
            index.blocks.join(survivors, ["term", "min_doc_id"])) \
            .select("term", "doc_id", "wnorm") \
            .unionByName(unblocked_posts)
    contrib = (posts.join(qt.select("query_id", "term", "qw"), "term")
               .select("query_id", "doc_id",
                       (F.col("qw") * F.col("wnorm")).alias("c")))
    if pad_to_k:
        # the fill enters the aggregation as zero-weight rows, exactly
        # as in topk_plan (query.zero_pad)
        contrib = contrib.unionByName(zero_pad(index, qterms, k))
    hits = contrib.groupBy("query_id", "doc_id").agg(F.sum("c").alias("cos"))
    score = score_transform_expr(F.lit(1.0) - F.col("cos"), cfg.score_alpha)
    hits = hits.withColumn("score", score)
    rank_on = (F.round(F.col("score"), tiebreak_round)
               if tiebreak_round is not None else F.col("score"))
    w = Window.partitionBy("query_id").orderBy(rank_on.desc(),
                                               F.col("doc_id").asc())
    out = (hits.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k)
           .select("query_id", "doc_id", "score", "rank"))
    # materialize the (≤ |queries|·k rows) result and release the cached
    # theta/survivors blocks — without this every call leaked executor
    # storage for the life of the serving session
    out = out.localCheckpoint(eager=True)
    theta.unpersist()
    survivors.unpersist()
    return out
