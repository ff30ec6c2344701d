"""Impact-ordered early termination: champion-list candidate generation
with an exactness certificate, batch-shaped for Spark.

Addresses the tracked scale risk (PLANS.md): the exact plan's
``broadcast(qterms) ⋈ postings`` inflates hot-term posting lists by the
number of queries sharing the term — a Zipf-hot batch turns 5M postings
into 200M+ aggregation rows.  Classic IR early termination (WAND,
impact-ordered lists) is sequential per query; this is the batch
re-derivation:

1. **Champion lists** (public technique — the `fancy lists` of
   Manning/Raghavan/Schütze IRBook §7.1.3): per term, the top-``p``
   postings by impact (wnorm desc, doc_id asc), extracted with a
   rank-window that Spark 4 prunes map-side (WindowGroupLimit) — no
   hot-term single-partition sort survives in the plan.
2. **Candidates** = union of the query's terms' champions.  Shared hot
   terms across the batch share champions, so the candidate doc set is
   ≤ |distinct query terms|·p regardless of batch size.
3. **Exact re-score of candidates only**: postings of the query's terms
   are semi-joined down to candidate docs BEFORE the per-query fan-out,
   so the aggregation touches |candidate postings| · |queries sharing
   the term| rows instead of |postings| · |queries|.
4. **Certificate**: every non-candidate doc d satisfies, per term t,
   wnorm(t, d) ≤ θ_t (the p-th champion's wnorm; 0 when df ≤ p, the
   whole list is covered).  Hence cos(q, d) ≤ B_q = Σ_t qw_t·θ_t.  If
   the query's k-th candidate cosine exceeds B_q (strictly, with a
   float-noise margin), NO non-candidate can enter the top-k — the
   result is provably rank-identical to the exact plan.
5. **Fallback**: queries whose certificate fails re-run through the
   exact plan (same output schema, same semantics, pad included).  The
   certificate decision is a |queries|-row collect.

Reference counterpart: none — Garamond's classic search is an
exhaustive cosine scan (src/index/naive.jl:15-32).  The capability is
bound-certified early termination, batch-friendly: WAND needs θ state
per query; champions are a static index-side table shared by every
query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from garamond_jl_spark.functions.scoring import score_transform_expr
from garamond_jl_spark.operators.build import InvertedIndex
from garamond_jl_spark.operators.query import embed_queries, topk_plan
from garamond_jl_spark.session import local_frame

DEFAULT_P = 1024
CERT_MARGIN = 1e-9   # float-summation safety on the B_q bound


def champion_lists(index: InvertedIndex, p: int = DEFAULT_P) -> DataFrame:
    """Per-term impact-ordered prefix: (term, doc_id, wnorm, imp_rank ≤ p).
    Rank-window over (wnorm desc, doc_id asc) — the row_number ≤ p
    pattern compiles to WindowGroupLimit, so every map partition is
    pruned to p rows per term before the exchange.  Build once, persist
    or store next to the postings table."""
    w = Window.partitionBy("term").orderBy(F.col("wnorm").desc(),
                                           F.col("doc_id").asc())
    return (index.postings.select("term", "doc_id", "wnorm")
            .withColumn("imp_rank", F.row_number().over(w))
            .where(F.col("imp_rank") <= p))


def term_thetas(champions: DataFrame, dfs: DataFrame) -> DataFrame:
    """(term, theta): the prefix-boundary impact.  A term's list is
    truncated iff its champion count < its true document frequency
    (``dfs``: (term, df) from the index terms table) — then θ = the
    boundary (min champion) wnorm, since a non-candidate may hide below
    it; otherwise every posting of the term is a champion, nothing is
    hidden, θ = 0.  Comparing against df is exact PER TERM and
    independent of the (possibly unknown) prefix depth the champions
    table was built with — no global max(imp_rank) scan, and a
    fully-covered term certifies tightly even when the table's depth
    exceeds every query term's df.

    A term present in ``dfs`` (df > 0) but with NO champion rows at all
    (a caller-supplied table that simply omits it) is fully hidden, not
    fully covered: its θ is +inf, which fails every certificate and
    routes those queries to the exact fallback instead of silently
    dropping the term's entire posting mass from the bound."""
    return (champions.groupBy("term")
            .agg(F.count("*").alias("_n"), F.min("wnorm").alias("_min"))
            .join(dfs, "term", "right")
            .select("term",
                    F.when(F.col("_n").isNull(),
                           F.lit(float("inf")))
                    .when(F.col("_n") < F.col("df"), F.col("_min"))
                    .otherwise(F.lit(0.0)).alias("theta")))


def impact_topk(spark: SparkSession, index: InvertedIndex,
                queries: list[str], k: int = 10, p: int = DEFAULT_P,
                champions: DataFrame | None = None,
                tiebreak_round: int | None = None,
                pad_to_k: bool = True,
                stats: dict | None = None) -> DataFrame:
    """Top-k identical to ``topk_plan`` (certificate-guaranteed), built
    from champion candidates when possible, exact fallback otherwise.
    Returns (query_id, doc_id, score, rank): a ``LocalRelation`` of at
    most |queries|·k rows, built by one action, that holds no executor
    storage (an empty batch returns the exact plan, lazily)."""
    qterms = embed_queries(spark, index, queries)
    qt_rows = qterms.collect()          # driver-built rows (tiny)
    if not qt_rows:
        return topk_plan(index, qterms, k, tiebreak_round, pad_to_k)
    recomputed = False
    if champions is None:
        stored_p = index.meta.get("champion_p") if index.meta else None
        if index.champions is not None and stored_p and stored_p >= p:
            # persisted prefix serves any smaller p by rank filter
            champions = index.champions.where(F.col("imp_rank") <= p)
        else:
            champions = champion_lists(index, p)
            recomputed = True
    # caller-supplied tables need no depth probe: the certificate's
    # truncation test compares champion counts against true df per term
    # (term_thetas), which is sound and tight for ANY prefix depth.
    q_terms = sorted({r["term"] for r in qt_rows})

    # candidates: champions of the query's terms, fanned out per query
    ch = champions.where(F.col("term").isin(q_terms))
    if recomputed:
        # the per-term champion window over live postings feeds BOTH
        # the candidate top-k and the term_thetas collect below —
        # persist the (≤ p·|q_terms| rows) prefix or the window scan,
        # the heaviest stage of the plan, runs twice per batch
        ch = ch.persist()
    try:
        return _impact_topk_scored(index, qterms, qt_rows, ch, k,
                                   tiebreak_round, pad_to_k, stats)
    finally:
        # always release the cached champion prefix — an exception
        # between the persist and the collects must not leak the frame
        # in a long-lived serving driver
        if recomputed:
            ch.unpersist()


def _impact_topk_scored(index: InvertedIndex, qterms: DataFrame,
                        qt_rows: list, ch: DataFrame, k: int,
                        tiebreak_round: int | None, pad_to_k: bool,
                        stats: dict | None) -> DataFrame:
    q_terms = sorted({r["term"] for r in qt_rows})
    cfg = index.cfg
    cand = (F.broadcast(qterms.select("query_id", "term"))
            .join(ch, "term")
            .select("query_id", "doc_id").distinct())
    cand_docs = cand.select("doc_id").distinct()

    # exact re-score of candidate docs only: semi-join the postings of
    # the query's terms down to candidate docs BEFORE the per-query join
    from garamond_jl_spark.operators.query import pruned_postings
    post = (pruned_postings(index, qterms)
            .select("term", "doc_id", "wnorm")
            .where(F.col("term").isin(q_terms))
            .join(F.broadcast(cand_docs), "doc_id", "left_semi"))
    scored = (F.broadcast(qterms).join(post, "term")
              .groupBy("query_id", "doc_id")
              .agg(F.sum(F.col("qw") * F.col("wnorm")).alias("cos"))
              .join(cand, ["query_id", "doc_id"], "left_semi"))
    score = score_transform_expr(F.lit(1.0) - F.col("cos"), cfg.score_alpha)
    scored = scored.withColumn("score", score)
    # cut to k with the SAME ranking key the exact plan uses: the rounded
    # score when tiebreak_round is set (a raw-cosine cut could drop a
    # candidate that ties at the rounded precision yet wins the doc_id
    # tiebreak — the exact plan would keep it)
    rank_on = (F.round(F.col("score"), tiebreak_round)
               if tiebreak_round is not None else F.col("score"))
    w = Window.partitionBy("query_id").orderBy(rank_on.desc(),
                                               F.col("doc_id").asc())
    topc = (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k).persist())
    try:
        return _certify_and_assemble(index, qterms, qt_rows, ch, topc,
                                     rank_on, cfg, k, tiebreak_round,
                                     pad_to_k, stats)
    finally:
        topc.unpersist()


def _certify_and_assemble(index: InvertedIndex, qterms: DataFrame,
                          qt_rows: list, ch: DataFrame, topc: DataFrame,
                          rank_on, cfg, k: int,
                          tiebreak_round: int | None, pad_to_k: bool,
                          stats: dict | None) -> DataFrame:
    q_terms = sorted({r["term"] for r in qt_rows})
    # certificate: k-th candidate (by the ranking key) vs the
    # hidden-mass bound B_q.  On an incremental live view the frozen
    # index.terms df UNDERCOUNTS appended postings: a term whose live
    # list outgrew the prefix would look "fully covered" (theta=0) and
    # the certificate would pass while hidden pushed docs rank — so df
    # must come from the same live postings the champions came from.
    if index.meta.get("live_deltas"):
        from garamond_jl_spark.operators.query import pruned_postings
        dfs = (pruned_postings(index, qterms)
               .where(F.col("term").isin(q_terms))
               .groupBy("term").agg(F.count("*").alias("df")))
    else:
        dfs = index.terms.where(F.col("term").isin(q_terms)) \
            .select("term", "df")
    thetas = {r["term"]: r["theta"] for r in
              term_thetas(ch, dfs).collect()}
    bq: dict[int, float] = {}
    for r in qt_rows:
        bq[r["query_id"]] = (bq.get(r["query_id"], 0.0)
                             + r["qw"] * thetas.get(r["term"], 0.0))
    kth = {r["query_id"]: (r["cnt"], r["kth_key"]) for r in
           topc.groupBy("query_id")
           .agg(F.count("*").alias("cnt"), F.min(rank_on).alias("kth_key"))
           .collect()}

    def _score(c: float) -> float:
        from garamond_jl_spark.functions.scoring import score_transform
        return score_transform(1.0 - c, cfg.score_alpha)

    def _ok(q: int) -> bool:
        if q not in kth or kth[q][0] < k:
            return False
        kth_key, b_score = kth[q][1], _score(bq[q] + CERT_MARGIN)
        if tiebreak_round is None:
            # score transform is strictly monotone in cos, so comparing
            # transformed scores ⟺ comparing cosines
            return kth_key > b_score
        # rounded-rank parity semantics: a non-candidate may TIE at the
        # rounded precision and win the doc_id tiebreak, so require the
        # ROUNDED keys to separate strictly.  Round HALF_UP like Spark's
        # F.round — Python round() is banker's (HALF_EVEN) and rounds a
        # midpoint LOW half the time, under-stating the bound exactly
        # when a hidden doc would Spark-round into a tie.
        from decimal import ROUND_HALF_UP, Decimal
        b_rounded = float(Decimal(repr(b_score)).quantize(
            Decimal(1).scaleb(-tiebreak_round), rounding=ROUND_HALF_UP))
        return kth_key > b_rounded

    all_qids = sorted(bq)
    certified = [q for q in all_qids if _ok(q)]
    fallback = [q for q in all_qids if q not in set(certified)]
    if stats is not None:
        stats["certified"] = certified
        stats["fallback"] = fallback
    parts = []
    if certified:
        # ranks were assigned with the correct key above — no re-rank
        parts.append(topc.where(F.col("query_id").isin(certified))
                     .select("query_id", "doc_id", "score", "rank"))
    if fallback:
        fb_terms = qterms.where(F.col("query_id").isin(fallback))
        parts.append(topk_plan(index, fb_terms, k, tiebreak_round, pad_to_k))
    out = parts[0]
    for pt in parts[1:]:
        out = out.unionByName(pt)
    # one action over the ≤ |queries|·k result, before the callers'
    # finally blocks release the cached frames it reads
    return local_frame(out.sparkSession, out.collect(), out.schema)
