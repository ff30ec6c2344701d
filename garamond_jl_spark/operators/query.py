"""Exact BM25 top-k query engine (SURVEY.md §3.1 Spark mapping).

Reference counterpart: query embedding (src/embedder/dtv.jl:29-59) →
``NaiveIndex.knn_search`` dot products (src/index/naive.jl:15-32) →
``score_transform!`` (src/search/index.jl:186-202) → trim
(src/search/results.jl:34-41).

The central plan (SURVEY.md J4):

    broadcast(query term weights) ⋈ postings ON term
      → groupBy(query_id, doc_id).sum(qw · wnorm)       # cosine
      → score = 1 − tanh(α · (1 − cos))
      → window top-k per query_id (score desc, doc_id asc tiebreak —
        Julia sortperm stability, naive.jl:30)
      → hydrate: ⋈ docs ON doc_id (J2, broadcast the tiny hit side)

Queries run **batched**: many queries become one DataFrame and one job —
the distributed replacement for the reference's request-at-a-time loop
(src/server/search.jl:34-40).  Per-query work on the driver is only the
pseudo-document embedding math on the query's own terms (a dict lookup
against the broadcast-collected stats of those terms — tiny by
construction: |query terms| ≪ |vocabulary|).

OOV handling: a query with no in-vocab token embeds to nothing and
yields zero rows (is_embedded gate, dtv.jl:53-58 + index.jl:106-113).
"""

from __future__ import annotations

import math
from collections import Counter
from itertools import islice

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from garamond_jl_spark.config import EngineConfig, bm25_weight, idf_weight, tf_weight
from garamond_jl_spark.functions.scoring import score_transform_expr
from garamond_jl_spark.functions.textprep import tokenize_with_config
from garamond_jl_spark.operators.build import InvertedIndex
from garamond_jl_spark.session import local_frame

QTERMS_SCHEMA = StructType([
    StructField("query_id", LongType(), False),
    StructField("term", StringType(), False),
    StructField("qw", DoubleType(), False),
])

# driver-OOM guard for the regex vocabulary expansion: a pattern like
# '.' matches the ENTIRE dictionary — at a 10^8-term code vocabulary
# that collect would kill a serving driver.  Explicit error, never a
# silent truncation (truncating would silently change scores).
REGEX_COLLECT_CAP = 200_000

_REGEX_META = set(r"\.^$*+?()[]{}|")


def _regex_literal(pat: str) -> tuple[str, str | None]:
    """Classify a vocabulary-expansion pattern for scan pruning.

    * ``("literal", s)`` — the whole pattern is metachar-free: an
      unanchored rlike equals a plain substring test, so the scan uses
      codegen ``contains`` and skips java.util.regex entirely.
    * ``("prefix", s)`` — pattern is ``^<literal>...``: every match
      starts with the literal, so a ``startswith`` band prunes the
      scan FIRST (StringStartsWith pushes into the parquet terms scan
      as a min/max range — the sorted-dictionary file skip), then the
      full rlike applies to the survivors.
    * ``("rlike", None)`` — no usable literal; full regex scan (the
      reference scans its whole lexicon per token too, dtv.jl:27).
    """
    if not any(c in _REGEX_META for c in pat):
        return ("literal", pat)
    if pat.startswith("^"):
        run = []
        for c in pat[1:]:
            if c in _REGEX_META:
                break
            run.append(c)
        if run:
            return ("prefix", "".join(run))
    return ("rlike", None)


def pruned_postings(index: InvertedIndex, qterms: DataFrame) -> DataFrame:
    """Partition-pruned view of ``index.postings``.

    When the persistent index was written with
    ``build_persistent(term_buckets=N)`` the postings table is
    partitioned by ``_tb = pmod(xxhash64(term), N)``; restricting the
    scan to the buckets holding the batch's query terms turns the
    exact plan's full-index scan into ∝ buckets-touched I/O (the
    partition filter prunes files at planning).  Identity when the
    index is unbucketed (or when reading an incremental union whose
    delta segments dropped the partition column).

    ``qterms`` is :func:`embed_queries`' ``LocalRelation``
    (``session.local_frame``).  The term collect and the bucket hashing
    below are projections of local relations, which the optimizer
    folds on the driver, and the de-duplication is Python — so pruning
    launches no Spark job in either posture (tests/test_resident.py).
    The resident posture reads the bucket ids from its driver-held
    stats instead of hashing."""
    nb = index.meta.get("term_buckets")
    p = index.postings
    if not nb or "_tb" not in p.columns:
        return p
    terms = sorted({r["term"] for r in qterms.select("term").collect()})
    if not terms:
        return p
    if index.resident is not None:
        buckets = index.resident.buckets_of(terms)
        if buckets is None:
            return p
    else:
        buckets = sorted({r["b"] for r in
                          local_frame(p.sparkSession, [(t,) for t in terms],
                                      "term string")
                          .select(F.pmod(F.xxhash64("term"), F.lit(nb))
                                  .alias("b")).collect()})
    return p.where(F.col("_tb").isin(buckets))


# above this many distinct terms the statistics probe joins a broadcast
# term list instead of compiling an isin literal list: a multi-thousand
# element In() expression bloats analysis/optimization time (the
# per-batch driver constant the 1200-query scaling leg pays — VERDICT
# r5 item 5), while a broadcast hash semi-join is O(1) plan size
STATS_PROBE_ISIN_MAX = 256

# df-memo bounds: a long-lived serving index sees an unbounded stream of
# distinct query terms.  Out-of-vocabulary strings come straight from
# users, so the absent set gets its own, smaller cap
DF_MEMO_CAP = 1_000_000
DF_MEMO_ABSENT_CAP = 100_000


def _df_stats(index: InvertedIndex, terms: list[str]) -> dict[str, int]:
    """Term → df for ``terms``, with an opportunistic per-index memo.

    A frozen index's statistics never change, so terms already fetched
    (and terms known to be out-of-vocabulary) answer from the driver-
    held memo and only the genuinely new terms cost a filtered read —
    repeat searches over a warm index skip the stats job entirely (the
    resident posture's df lookup, acquired lazily instead of up
    front).  Live incremental views (``meta["live_deltas"]``: appends
    move df under the reader) bypass the memo, the same honesty rule
    ``make_env_resident`` applies.  Both memos are bounded
    (``DF_MEMO_CAP``, ``DF_MEMO_ABSENT_CAP``)."""
    if index.meta.get("live_deltas"):
        return {r["term"]: r["df"] for r in
                _stats_probe(index.terms, terms)
                .select("term", "df").collect()}
    memo: dict = index.meta.setdefault("_df_memo", {})
    absent: dict = index.meta.setdefault("_df_memo_absent", {})
    # read the hits once: a concurrent request may evict them below
    out = {t: d for t in terms if (d := memo.get(t)) is not None}
    missing = [t for t in terms if t not in out and t not in absent]
    if missing:
        fetched = {r["term"]: r["df"] for r in
                   _stats_probe(index.terms, missing)
                   .select("term", "df").collect()}
        out.update(fetched)
        memo.update(fetched)
        absent.update(dict.fromkeys(t for t in missing if t not in fetched))
        _evict_oldest(memo, DF_MEMO_CAP)
        _evict_oldest(absent, DF_MEMO_ABSENT_CAP)
    return out


def _evict_oldest(memo: dict, cap: int) -> None:
    """Past ``cap`` entries drop the oldest half (insertion order) — an
    evicted term only costs its stats probe again."""
    if len(memo) > cap:
        for t in list(islice(memo, len(memo) - cap // 2)):
            memo.pop(t, None)


def _stats_probe(terms: DataFrame, query_terms: list[str]) -> DataFrame:
    """Filtered view of the terms table restricted to ``query_terms`` —
    isin for small lists (pushes into a parquet scan), broadcast join
    for large batches (bounded plan size, same rows)."""
    if len(query_terms) <= STATS_PROBE_ISIN_MAX:
        return terms.where(F.col("term").isin(query_terms))
    spark = terms.sparkSession
    probe = F.broadcast(local_frame(spark,
        [(t,) for t in query_terms], "term string"))
    return terms.join(probe, "term")


def embed_queries(spark: SparkSession, index: InvertedIndex,
                  queries: list[str], isregex: bool = False,
                  stats_out: dict | None = None) -> DataFrame:
    """Queries → (query_id, term, qw) with qw the L2-normalized
    pseudo-document weight computed from corpus stats (dtv.jl:29-41).

    Stats for the union of query terms are fetched with ONE filtered
    read of the terms table (Catalyst pushes the isin filter into the
    scan) — never a full-dictionary collect.

    ``isregex`` (F7's ``search_method=:regex``, dtv.jl:27
    ``dtv_regex``): each query token is an UNANCHORED regular
    expression matched against the whole vocabulary; every matching
    vocabulary term joins the pseudo-document with the token's count,
    then the standard weighting applies to the expanded counts.  The
    expansion is one ``rlike`` join of the terms table against the
    broadcast pattern list (the reference scans its lexicon per token
    the same way).  Documented deviation: regex queries tokenize by
    whitespace ONLY (plus the configured lowercase), because the
    standard prepare() would strip the regex metacharacters."""
    cfg = index.cfg
    if isregex:
        tokenized = [[(t.lower() if cfg.lowercase else t)
                      for t in (q or "").split() if t] for q in queries]
        pats = [(qid, pat, c)
                for qid, toks in enumerate(tokenized)
                for pat, c in sorted(Counter(toks).items())]
        if not pats:
            return local_frame(spark, [], QTERMS_SCHEMA)
        pdf = F.broadcast(local_frame(spark,
            pats, "query_id INT, pat STRING, c INT"))
        # one pruned scan per DISTINCT pattern, unioned: pure literals
        # become codegen `contains` (no regex at all), ^-anchored
        # patterns band the scan with `startswith` (pushed into the
        # parquet terms scan as a range filter) before the rlike, and
        # only truly open patterns pay the full |V| regex pass.  The
        # (term→query) fan-out is then a broadcast equi-join on the
        # pattern string — never a |V|×|patterns| nested loop.
        terms_df = index.terms.select("term", "df")
        branches = []
        for pat in sorted({p for _, p, _ in pats}):
            kind, lit = _regex_literal(pat)
            if kind == "literal":
                t = terms_df.where(F.col("term").contains(lit))
            elif kind == "prefix":
                t = terms_df.where(F.col("term").startswith(lit)) \
                            .where(F.col("term").rlike(pat))
            else:
                t = terms_df.where(F.col("term").rlike(pat))
            branches.append(t.withColumn("pat", F.lit(pat)))
        uni = branches[0]
        for b in branches[1:]:
            uni = uni.unionByName(b)
        matched = (uni.join(pdf, "pat")
                   .select("query_id", "term", "df", "c")
                   .limit(REGEX_COLLECT_CAP + 1).collect())
        if len(matched) > REGEX_COLLECT_CAP:
            raise ValueError(
                f"regex query expansion exceeds {REGEX_COLLECT_CAP} "
                "(term, query) matches — the pattern set is too broad "
                "for driver-side embedding (e.g. '.' matches the whole "
                "vocabulary); narrow the patterns")
        stats = {r["term"]: r["df"] for r in matched}
        exp_counts: dict[int, dict[str, int]] = {}
        for r in matched:
            qc = exp_counts.setdefault(int(r["query_id"]), {})
            qc[r["term"]] = qc.get(r["term"], 0) + int(r["c"])
    else:
        tok = index.tokenizer or (lambda s: tokenize_with_config(s, cfg))
        tokenized = [tok(q) for q in queries]
        all_terms = sorted({t for toks in tokenized for t in toks})
        if not all_terms:
            return local_frame(spark, [], QTERMS_SCHEMA)
        if index.resident is not None:
            # warm posture: df stats are a driver lookup — the per-
            # request stats job disappears (operators/resident.py)
            stats = index.resident.df_of(all_terms)
        else:
            stats = _df_stats(index, all_terms)
    n_docs, avgdl = float(index.meta["n_docs"]), index.meta["avgdl"]
    rows = []
    for qid, toks in enumerate(tokenized):
        if isregex:
            counts = exp_counts.get(qid, {})
        else:
            counts = {}
            for t in toks:
                if t in stats:
                    counts[t] = counts.get(t, 0) + 1
        qlen = float(sum(counts.values()))
        if qlen == 0.0:
            continue  # OOV-only ⇒ no rows ⇒ no hits
        ws = {}
        for t, c in counts.items():
            if cfg.weighting == "count":
                ws[t] = float(c)
            elif cfg.weighting == "tf":
                ws[t] = tf_weight(c, qlen)
            elif cfg.weighting == "tfidf":
                ws[t] = tf_weight(c, qlen) * idf_weight(n_docs, stats[t])
            else:
                ws[t] = bm25_weight(c, qlen, avgdl, n_docs, stats[t],
                                    kappa=cfg.kappa, beta=cfg.beta)
        nrm = math.sqrt(sum(w * w for w in ws.values()))
        for t, w in ws.items():
            rows.append((qid, t, w / nrm if nrm > 0 else 0.0))
    if stats_out is not None:
        # exact size of the score join's aggregation input, free from
        # the df stats already in hand: each (query, term) row fans out
        # to df_t posting rows.  topk_plan/score_all size their wide
        # groupBy from this so large batches never hand-tune
        # spark.sql.shuffle.partitions (the 2400-query GC-pressure
        # class, BENCH.md round 4).
        stats_out["expected_hit_rows"] = sum(
            stats.get(t, 0) for _, t, _ in rows)
        # per-query maximum (r6, ADVICE fix): the two-phase ranking
        # guard protects against ONE hot query whose single window task
        # sorts millions of rows — in a large skewed batch the MEAN
        # dilutes below the threshold while the hot query still melts a
        # task, so the gate must see the worst query, not the average
        per_q: dict[int, int] = {}
        for qid, t, _ in rows:
            per_q[qid] = per_q.get(qid, 0) + stats.get(t, 0)
        stats_out["max_query_hit_rows"] = max(per_q.values(), default=0)
    return local_frame(spark, rows, QTERMS_SCHEMA)


def fill_score(cfg: EngineConfig) -> float:
    """The dense-knn fill score: what a zero-overlap document scores
    under the reference's NaiveIndex full scan (cos=0 ⇒ dist=1 ⇒
    ``1 − tanh(α)``, src/index/naive.jl:15-32 + index.jl:186-202).
    Scalar so sparse plans can append fill rows without scoring the
    corpus."""
    from garamond_jl_spark.functions.scoring import score_transform
    return score_transform(1.0, cfg.score_alpha)


# NOTE on sizing the wide (query_id, doc_id) score aggregation: the
# per-task state ceiling is handled by AQE's initialPartitionNum
# (session.py) — every shuffle starts wide, coalescing shrinks small
# stages, and map-side partial aggregation stays intact.  An explicit
# repartition-by-grouping-keys "last resort" was tried in round 5 and
# REMOVED: it discards partial aggregation, so the 2400-query protocol
# shuffled the RAW ~6G-row join output (~150 GB, disk-filling) instead
# of the ~2.4G combined rows — strictly worse at every reachable
# scale (BENCH.md r5).  ``embed_queries``'s ``stats_out`` row estimate
# remains available to callers as observability.
def score_all(index: InvertedIndex, qterms: DataFrame) -> DataFrame:
    """Sparse scored hits (query_id, doc_id, score) — NO ranking window,
    NO pad.  Only documents sharing ≥1 term with the query appear; the
    caller appends :func:`fill_score` rows for zero-overlap docs if the
    reference's dense-knn fill semantics are needed.

    This is the scale path for "full result set" consumers (combined
    search+filter, multi-searcher aggregation): since cosine ≥ 0, every
    row here outranks every absent doc, so downstream top-k never needs
    corpus-wide scoring — the round-1 ``full=True`` plan's per-query
    corpus window and 2·n_docs cross-join are both gone."""
    hits = (score_contributions(index, qterms)
            .groupBy("query_id", "doc_id").agg(F.sum("c").alias("cos")))
    score = score_transform_expr(F.lit(1.0) - F.col("cos"),
                                 index.cfg.score_alpha)
    return hits.select("query_id", "doc_id", score.alias("score"))


def score_contributions(index: InvertedIndex,
                        qterms: DataFrame) -> DataFrame:
    """Per-posting cosine terms ``(query_id, doc_id, c = qw·wnorm)``:
    the broadcast query terms joined to the (partition-pruned) postings.
    Their sum per ``(query_id, doc_id)`` is the cosine."""
    return (F.broadcast(qterms)
            .join(pruned_postings(index, qterms)
                  .select("term", "doc_id", "wnorm"), "term")
            .select("query_id", "doc_id",
                    (F.col("qw") * F.col("wnorm")).alias("c")))


def zero_pad(index: InvertedIndex, qterms: DataFrame, k: int,
             positive_only: bool = False) -> DataFrame:
    """The dense-knn fill as zero-weight score contributions:
    ``(query_id, doc_id, c = 0.0)`` for every query in ``qterms`` and
    each of the globally lowest ``2k`` doc ids (``positive_only``: only
    those of them with doclen > 0).

    Unioned into the input of the score aggregation, a pad id that is
    also a hit keeps its exact cosine (``x + 0.0 == x`` in IEEE-754,
    and every ``c ≥ 0``) and a pad id with no posting sums to exactly
    ``0.0`` — the fill row — so no anti-join against the hits is
    needed.  The warm posture builds the rows from driver-held state:
    the resident low-id prefix, and the query ids of the query-term
    ``LocalRelation`` (a collect of it launches no job), exploded
    against the id list so the plan stays O(queries + k)."""
    res = index.resident
    if res is not None and k <= res.pad_k:
        low = [d for d, pos in res.low_ids[:2 * k] if pos or not positive_only]
        qids = sorted({r[0] for r in qterms.select("query_id").collect()})
        qid_frame = local_frame(qterms.sparkSession, [(q,) for q in qids],
                                StructType([qterms.schema["query_id"]]))
        ids = F.array(*[F.lit(d) for d in low]).cast("array<long>")
        return qid_frame.select("query_id", F.explode(ids).alias("doc_id"),
                                F.lit(0.0).alias("c"))
    low = index.docs.orderBy("doc_id").limit(2 * k)
    if positive_only:
        low = low.where(F.col("doclen") > 0)
    return (qterms.select("query_id").distinct()
            .crossJoin(low.select("doc_id"))
            .withColumn("c", F.lit(0.0)))


def oov_cosines(index: InvertedIndex, qterms: DataFrame) -> DataFrame:
    """E8 :large_vector (dtv.jl:53-58 + defaults.jl:26-27): an all-OOV
    document embeds as the constant DEFAULT_OOV_VAL vector over the
    |V|-term space; L2-normalized that is 1/√|V| in every component, so
    against the normalized query it scores cos = Σ qw / √|V| — a
    per-query scalar → (query_id, cos).  Summed on the driver from the
    query-term rows: ``qterms`` is :func:`embed_queries`' LocalRelation,
    so its collect launches no job."""
    n_terms = float(index.meta.get("n_terms") or index.terms.count())
    sums: dict[int, float] = {}
    for r in qterms.collect():
        sums[r["query_id"]] = sums.get(r["query_id"], 0.0) + r["qw"]
    return local_frame(qterms.sparkSession,
        [(q, w / n_terms ** 0.5) for q, w in sums.items()],
        "query_id LONG, cos DOUBLE")


# phase-1 salt fan-out for the two-phase top-k window (see topk_plan):
# bounds any single ranking task at ~hits/TOPK_SALTS rows
TOPK_SALTS = 32
# engage the two-phase window only when the per-query hit estimate says
# a single ranking task would sort this many rows or more — ordinary
# batches keep the one-window plan (the blanket two-phase cost the
# 200-query headline ~0.9 s, BENCH.md r5)
TOPK_TWO_PHASE_ROWS = 500_000


def topk_plan(index: InvertedIndex, qterms: DataFrame, k: int,
              tiebreak_round: int | None = None,
              pad_to_k: bool = True,
              n_queries: int | None = None,
              agg_rows_hint: int | None = None,
              max_rows_hint: int | None = None) -> DataFrame:
    """The scoring DAG on the flat postings table → (query_id, doc_id,
    score, rank).  ``tiebreak_round`` rounds the score before ranking so
    cross-engine float noise cannot flip near-ties (used by the DuckDB
    parity harness; rank identity vs the oracle uses exact floats).

    ``pad_to_k`` replicates the reference's dense-knn fill semantics:
    ``NaiveIndex`` dots the query against EVERY document
    (src/index/naive.jl:15-32), so zero-overlap docs score
    ``1 − tanh(α·1)`` and pad the top-k (tie order: ascending doc_id,
    sortperm stability).  Since cosine ≥ 0, every matching doc outranks
    every non-matching doc, so padding needs only the globally lowest
    ``2k`` doc_ids (≤ k of which can be displaced by matches).  They
    enter the score aggregation itself as zero-weight contributions
    (:func:`zero_pad`): a pad id that is a hit keeps its exact cosine,
    one that is not sums to the fill's ``cos = 0`` — so the postings
    are scanned once, in one aggregation, with no anti-join."""
    cfg = index.cfg
    contrib = score_contributions(index, qterms)
    if pad_to_k:
        # under :large_vector the all-OOV docs score as hits (below),
        # so the cos=0 pad must not double-cover them
        contrib = contrib.unionByName(zero_pad(
            index, qterms, k, positive_only=cfg.oov_policy == "large_vector"))
    hits = contrib.groupBy("query_id", "doc_id").agg(F.sum("c").alias("cos"))
    if cfg.oov_policy == "large_vector":
        # the all-OOV docs (:func:`oov_cosines`) are REAL hits (score
        # strictly above the cos=0 fill), so they are appended
        # regardless of ``pad_to_k``.  They tie among themselves
        # (doc_id asc), so the 2k lowest all-OOV ids cover every slot
        # they could take.
        oov_cos = oov_cosines(index, qterms)
        res = index.resident
        if res is not None and k <= res.pad_k:
            # warm posture: the 2k lowest all-OOV ids are driver-held
            spark = qterms.sparkSession
            oov_low = local_frame(spark,
                [(i,) for i in res.oov_low_ids[:2 * k]], "doc_id LONG")
        else:
            oov_low = (index.docs.where(F.col("doclen") == 0)
                       .orderBy("doc_id").limit(2 * k).select("doc_id"))
        hits = hits.unionByName(oov_cos.crossJoin(oov_low)
                                .select("query_id", "doc_id", "cos"))
    score = score_transform_expr(F.lit(1.0) - F.col("cos"), cfg.score_alpha)
    hits = hits.withColumn("score", score)
    rank_on = (F.round(F.col("score"), tiebreak_round)
               if tiebreak_round is not None else F.col("score"))
    order = [rank_on.desc(), F.col("doc_id").asc()]
    if n_queries == 1 and k <= 10_000:
        # (k bound = Spark's topKSortFallbackThreshold: beyond it the
        # sort+limit stops compiling to TakeOrdered and the windowed
        # plan below is the better shape)
        # single-request serving path: orderBy+limit compiles to
        # TakeOrderedAndProject — per-partition top-k merged on the
        # driver, NO ranking exchange at all (the same selection and
        # tiebreak as the window; the k-row rank window below is a
        # single trivial task).  A request at 1M docs drops ~0.6 s of
        # window shuffling (BENCH.md r5 warm-serving table).
        top = hits.orderBy(*order).limit(k)
        w = Window.orderBy(*order)
        return (top.withColumn("rank", F.row_number().over(w))
                .select("query_id", "doc_id", "score", "rank"))
    # two-phase top-k for heavy queries: a hot query can match most of
    # the corpus, and a single per-query window sorts ALL its hits in
    # ONE task (measured 0.7 s for a 630k-hit query at 1M docs; fatal
    # at 100× that).  Phase 1 ranks within (query_id, doc_id-hash
    # salt) — every salt's top-k is a superset of its contribution to
    # the global top-k, so phase 2's window sees ≤ k·SALTS rows per
    # query.  Rank-identical by construction (same ordering keys,
    # deterministic doc_id tiebreak); pinned by test_rank_identity's
    # salt-invariance case.  Engaged from the exact per-query row
    # estimate (embed_queries stats_out): ordinary batches keep the
    # single window and its one shuffle.
    # engage on the WORST query's exact row estimate when available
    # (ADVICE r5: the mean dilutes a single hot query in a large batch
    # — 2400 ordinary queries hide one that matches most of the corpus);
    # the batch-mean fallback covers callers without per-query stats
    per_query = (max_rows_hint if max_rows_hint is not None
                 else (agg_rows_hint or 0) / max(n_queries or 1, 1))
    if TOPK_SALTS > 1 and per_query >= TOPK_TWO_PHASE_ROWS:
        w1 = Window.partitionBy("query_id", "_salt").orderBy(*order)
        hits = (hits
                .withColumn("_salt", F.pmod(F.xxhash64("doc_id"),
                                            F.lit(TOPK_SALTS)))
                .withColumn("_r1", F.row_number().over(w1))
                .where(F.col("_r1") <= k).drop("_salt", "_r1"))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (hits.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank"))


AUTO_MIN_EXACT_ROWS = 2_000_000   # below this the exact plan is cheap
AUTO_ADVANTAGE = 4.0              # required modeled-cost ratio for impact


def choose_plan(index: InvertedIndex, queries: list[str],
                p: int = 1024) -> str:
    """Batch-statistics plan selection for ``search(plan="auto")``.

    The exact plan's aggregation input is Σ_t df_t · q_t rows (q_t =
    queries sharing term t — hot terms inflate multiplicatively; the
    tracked round-1 risk).  The impact plan touches ≤ |terms|·p champion
    rows plus Σ_t min(df_t, p) · q_t candidate-rescore rows, at the cost
    of a few driver round-trips (certificate).  Pick impact only when
    the modeled exact cost is large in absolute terms AND dominates the
    impact cost by :data:`AUTO_ADVANTAGE` — both thresholds calibrated
    in bench/plan_auto.py (BENCH.md round 3).

    One extra filtered read of the terms table (the same statistics scan
    ``embed_queries`` performs); tokenization is driver-side and tiny.
    """
    from garamond_jl_spark.functions.textprep import tokenize_with_config
    tok = index.tokenizer or (lambda s: tokenize_with_config(s, index.cfg))
    q_count: dict[str, int] = {}
    for q in queries:
        for t in set(tok(q)):
            q_count[t] = q_count.get(t, 0) + 1
    if not q_count:
        return "exact"
    if index.resident is not None:
        stats = index.resident.df_of(sorted(q_count))
    else:
        stats = _df_stats(index, sorted(q_count))
    exact_rows = sum(stats[t] * q for t, q in q_count.items()
                     if t in stats)
    impact_rows = (len(stats) * p
                   + sum(min(stats[t], p) * q for t, q in q_count.items()
                         if t in stats))
    if exact_rows < AUTO_MIN_EXACT_ROWS:
        return "exact"
    return "impact" if exact_rows > AUTO_ADVANTAGE * impact_rows else "exact"


def search(spark: SparkSession, index: InvertedIndex, queries: list[str],
           k: int = 10, hydrate: bool = True,
           tiebreak_round: int | None = None,
           pad_to_k: bool = True, plan: str = "exact",
           stats: dict | None = None) -> DataFrame:
    """Batched top-k search; optionally hydrates doc metadata (J2).

    ``plan`` selects the physical strategy — both are rank-identical
    (the impact plan's certificate proves it):
    * ``exact`` (default) — broadcast-join score of every posting of
      the query's terms; best for warm columnar postings.
    * ``impact`` — champion-list candidates + exactness certificate
      (operators/impact.py); wins on hot-term batches (7.4× at 200 q /
      1M docs, BENCH.md).
    * ``auto`` — :func:`choose_plan` picks exact/impact from the batch's
      term statistics (hot-shared-term batches route to impact).

    ``stats``: optional dict populated with {"plan": chosen} (and the
    impact certificate counters when that plan runs).
    """
    if plan == "auto":
        plan = choose_plan(index, queries)
    if index.cfg.oov_policy == "large_vector" and plan != "exact":
        # the impact certificate does not model the constant OOV fill
        # vectors — route to the exact plan, which implements the E8
        # semantics in its pad
        plan = "exact"
    if stats is not None:
        stats["plan"] = plan
    if plan == "impact":
        from garamond_jl_spark.operators.impact import impact_topk
        hits = impact_topk(spark, index, queries, k=k,
                           tiebreak_round=tiebreak_round, pad_to_k=pad_to_k,
                           stats=stats)
    elif plan == "exact":
        # batch memoization (r6): identical query strings tokenize and
        # embed identically, so the scoring DAG runs once per DISTINCT
        # query and the per-qid results fan back out through a tiny
        # broadcast map.  Real batches repeat hot queries; the score-
        # aggregation input shrinks by the duplication factor (the
        # exact plan's cost is Σ_t df_t·q_t — guide §2.3 "shuffle fewer
        # bytes").  With no duplicates rep ids equal the original ids
        # and the plan is unchanged.  An OOV representative yields no
        # rows, so its duplicates correctly yield none either.
        uniq: dict[str, int] = {}
        rep_of = [uniq.setdefault(q, len(uniq)) for q in queries]
        reps = list(uniq)
        est: dict = {}
        qterms = embed_queries(spark, index, reps, stats_out=est)
        hits = topk_plan(index, qterms, k, tiebreak_round, pad_to_k,
                         n_queries=len(reps),
                         agg_rows_hint=est.get("expected_hit_rows"),
                         max_rows_hint=est.get("max_query_hit_rows"))
        if len(reps) < len(queries):
            fan = F.broadcast(local_frame(spark,
                [(rep, qid) for qid, rep in enumerate(rep_of)],
                "_rep LONG, query_id LONG"))
            hits = (hits.withColumnRenamed("query_id", "_rep")
                    .join(fan, "_rep")
                    .select("query_id", "doc_id", "score", "rank"))
    else:
        raise ValueError(f"unknown plan: {plan!r}")
    if not hydrate:
        return hits
    # J2 result hydration: hits are ≤ |queries|·k rows — broadcast them
    return (index.docs.join(F.broadcast(hits), "doc_id")
            .select("query_id", "doc_id", "score", "rank",
                    *[c for c in index.docs.columns if c != "doc_id"]))
