"""Query lifecycle: request → plan selection → DataFrame DAG → response
(SURVEY.md §3.1/§3.3 Spark mapping).

Reference counterparts:
* ``InternalRequest`` — /root/reference/src/server/requests.jl:4-21
* ``respond`` operation dispatch — src/server/search.jl:51-127
* plan selection (filter-only / search-only / combined, post-filter
  intersection) — src/search/main.jl:1-56
* rank on explicit ids with linear scores — src/search/rank.jl:37-58,
  src/search/results.jl:35-39
* recommend = seed row → structured query → search with seed excluded —
  src/search/recommend.jl:28-37

The transports (REST/WS/unix socket) are deliberately NOT reproduced —
this module is the engine-side respond(); any thin HTTP layer can call
it (SURVEY.md §7.6 non-goal).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from garamond_jl_spark.functions.query_parser import parse_input
from garamond_jl_spark.operators.aggregate import strategy_agg, strategy_scalar
from garamond_jl_spark.operators.build import InvertedIndex
from garamond_jl_spark.operators.filters import filter_predicate, indexfilter
from garamond_jl_spark.operators.query import (embed_queries, fill_score,
                                               oov_cosines, score_all,
                                               topk_plan)
from garamond_jl_spark.plugins import get_ranker, get_recommender
from garamond_jl_spark.session import local_frame


@dataclass
class InternalRequest:
    """requests.jl:4-21 port (fields used by the engine)."""
    operation: str = "search"
    query: str = ""
    max_matches: int = 1000
    search_method: str = "exact"
    max_suggestions: int = 0
    return_fields: list[str] = field(default_factory=list)
    custom_weights: dict[str, float] = field(default_factory=dict)
    sort_fields: list[str] = field(default_factory=list)
    sort_reverse: bool = False
    response_size: int = 10
    response_page: int = 1
    input_parser: str = "base_input_parser"
    ranker: str = "noop_ranker"
    recommender: str = "search_recommender"
    searchable_filters: list[str] = field(default_factory=list)
    # rank on round(score, n) with doc_id tiebreak — cross-engine
    # determinism for oracle comparisons (None = raw score)
    tiebreak_round: int | None = None


@dataclass
class SearchEnv:
    """env.jl:5-12 analog: data + index + config handles.

    ``searchers``: optional additional (searcher, score_weight) pairs —
    the reference's multi-searcher environment (searchers built over
    different embeddable fields / weighting configs share one data
    table and their results aggregate, src/search/results.jl:54-145).
    ``index`` is searcher 0 with weight ``score_weight``.  A searcher is
    either an :class:`InvertedIndex` (classic BM25, whose hits come from
    :func:`classic_hits`) or any object with the
    ``sparse_hits_batch(spark, queries) -> (hits, embedded)`` /
    ``fill_score() -> float`` interface — e.g.
    :class:`~garamond_jl_spark.operators.semantic.BOESearcher`, giving
    the reference's HETEROGENEOUS config-2 env (a classic searcher and
    a Word2Vec/BOE searcher under one ``id_aggregation``,
    test/configs/configgenerator.jl:54-116).  Every kind goes through
    one merge (:func:`merge`), where a single request is a batch of
    one.

    ``id_key`` names the id column of the RAW loaded data (env.jl:41
    db_check_id_key); the index's docs table is always addressed as
    ``doc_id`` — ``build_index`` renames ``id_col`` on the way in, so
    every engine-side plan below uses the uniform name regardless of
    what the source column was called.
    """
    spark: SparkSession
    index: InvertedIndex
    id_key: str = "doc_id"
    score_weight: float = 1.0
    searchers: list[tuple[object, float]] = field(default_factory=list)
    aggregation: str = "mean"   # defaults.jl:29 DEFAULT strategy :mean
    # set by plans.env_config.build_search_env — the handles the
    # reference's env_operator :reindex needs (env.jl:10-12 keeps
    # config_path on the env; searcher ids come from the config's
    # per-searcher "id"): config-built envs can selectively rebuild one
    # searcher by id (env_operations.jl:35-64)
    config_path: str | None = None
    searcher_ids: list[str] = field(default_factory=list)
    # suggestion distance for OOV query terms (defaults.jl
    # HEURISTIC_TO_DISTANCE via the primary searcher's ``heuristic``
    # config key): one of functions/suggest.DISTANCES, or None for no
    # suggestions (the reference's DEFAULT_HEURISTIC=nothing).  Directly
    # built envs keep the historical levenshtein default.
    suggest_metric: str | None = "levenshtein"
    # per enabled searcher: its ``id_aggregation`` group (results.jl:
    # 54-96 merges the searchers that SHARE a group id; None = the
    # shared environment-level id, i.e. everything merges — the
    # reference's default where id_aggregation falls back to the
    # environment id)
    agg_ids: list[str | None] = field(default_factory=list)

    @property
    def schema(self) -> dict[str, str]:
        """db_create_schema analog (db.jl:1-9): name → SQL type."""
        return {f.name: f.dataType.simpleString()
                for f in self.index.docs.schema.fields}


def _linear_scores(ranked: DataFrame) -> DataFrame:
    """results.jl:35-39: linear descending scores range(1, 0) over the
    ranked id list.  The length comes from a window count over the
    (≤ k) ranked rows, so building the plan runs no job."""
    denom = F.greatest(F.count("*").over(Window.partitionBy()) - 1,
                       F.lit(1))
    return ranked.select(
        "doc_id", (F.lit(1.0) - (F.col("rank") - 1) / denom).alias("score"),
        "rank")


def classic_hits(index: InvertedIndex, qt: DataFrame) -> DataFrame:
    """The classic searcher's sparse hit set: embedded queries ``qt``
    (``embed_queries`` output) → (query_id, doc_id, score) for every
    doc sharing a term with its query, as :func:`merge` reads every
    searcher's hits.

    Under ``oov_policy="large_vector"`` (E8, dtv.jl:53-58) the all-OOV
    documents are REAL hits at the per-query constant-fill-vector
    score transform(1 − Σqw/√|V|); that score is ≥ the :none fill, so
    the pad invariants are unchanged."""
    h = score_all(index, qt)
    if index.cfg.oov_policy == "large_vector":
        from garamond_jl_spark.functions.scoring import score_transform_expr
        s_oov = oov_cosines(index, qt).select(
            "query_id", score_transform_expr(F.lit(1.0) - F.col("cos"),
                                             index.cfg.score_alpha)
            .alias("score"))
        oov = s_oov.crossJoin(index.docs.where(F.col("doclen") == 0)
                              .select("doc_id"))
        h = h.unionByName(oov.select("query_id", "doc_id", "score"))
    return h


def search(env: SearchEnv, request: InternalRequest,
           _searcher_subset: list[int] | None = None) -> DataFrame:
    """main.jl:1-56: parse input, pick one of the three plan shapes,
    execute as one DataFrame DAG → (doc_id, score, rank).

    ``_searcher_subset``: positions into [index] + searchers to merge
    (used by :func:`search_grouped` for the reference's per-
    ``id_aggregation`` result groups); None = every searcher, the
    reference's default where all searchers share the environment
    aggregation id."""
    parsed = parse_input(env.schema, request.query, request.input_parser,
                         searchable_filters=request.searchable_filters,
                         keep_punct=(request.search_method == "regex"))
    k = min(request.max_matches,
            env.index.meta.get("n_live_docs", env.index.meta["n_docs"]))
    has_search = bool(parsed.search.strip())
    has_filter = bool(parsed.filter)
    docs = env.index.docs

    if has_filter and not has_search:
        # filter-only plan: indexfilter + build_result_from_ids
        # (main.jl:20-31); sort per T3 with id tiebreak for determinism
        cols = set(docs.columns)
        preds = [filter_predicate(kk, vv) for kk, vv in parsed.filter.items()
                 if kk in cols]
        filtered = docs.where(reduce(lambda a, b: a & b, preds)) \
            if preds else docs
        sort_keys = [s for s in (request.sort_fields or ["doc_id"])
                     if s in cols]
        order = [F.col(s).desc() if request.sort_reverse else F.col(s).asc()
                 for s in sort_keys] + [F.col("doc_id").asc()]
        # distributed top-k first (TakeOrdered — no global window over
        # the full table), then rank the ≤k survivors
        cols_needed = list(dict.fromkeys(["doc_id", *sort_keys]))
        top = filtered.select(*cols_needed).orderBy(*order).limit(k)
        w = Window.orderBy(*order)
        ranked = (top.withColumn("rank", F.row_number().over(w))
                  .select("doc_id", "rank"))
        return _linear_scores(ranked)

    if not has_search:
        return local_frame(env.spark,
            [], "doc_id LONG, score DOUBLE, rank INT")

    all_sets = [(env.index, env.score_weight)] + list(env.searchers)
    if request.custom_weights:
        # results.jl:79: each searcher's score_weight multiplies the
        # request's custom weight for its id at aggregation time (ids
        # come from the config via env.searcher_ids; searchers of a
        # hand-built env have no ids and keep weight × 1).  The
        # reference applies custom weights only inside __aggregate —
        # the single-searcher plan below is unaffected there too.
        ids = env.searcher_ids
        all_sets = [
            (s, w * float(request.custom_weights.get(
                ids[p] if p < len(ids) else None, 1.0)))
            for p, (s, w) in enumerate(all_sets)]
    chosen = (all_sets if _searcher_subset is None
              else [all_sets[p] for p in _searcher_subset])
    isregex = request.search_method == "regex"
    primary = chosen[0][0]
    if len(chosen) == 1 and isinstance(primary, InvertedIndex):
        if not has_filter:
            # search-only, single classic searcher: standard top-k
            qt = embed_queries(env.spark, primary, [parsed.search],
                               isregex=isregex)
            return topk_plan(primary, qt, k,
                             tiebreak_round=request.tiebreak_round,
                             pad_to_k=True,
                             n_queries=1).select("doc_id", "score", "rank")
        # a lone classic searcher merges unweighted (no aggregation
        # happens in the reference either)
        chosen = [(primary, 1.0)]
    ids = indexfilter(docs, parsed.filter, id_key="doc_id") \
        if has_filter else None
    return merge(env, chosen, [parsed.search], k, request.tiebreak_round,
                 ids=ids, isregex=isregex).select("doc_id", "score", "rank")


def merge(env: SearchEnv, chosen: list[tuple[object, float]],
          queries: list[str], k: int, tiebreak_round: int | None,
          ids: DataFrame | None = None, isregex: bool = False
          ) -> DataFrame:
    """The multi-searcher merge (results.jl:54-145 ``aggregate!``) of a
    batch of queries → (query_id, doc_id, score, rank ≤ k).  A single
    request is a batch of one.

    ``chosen``: the (searcher, weight) pairs to merge, custom weights
    applied; ``ids``: an optional (doc_id) filter frame (P10) that the
    hits and the pad are restricted to.  Per searcher, the sparse hits
    carry ``query_id`` on every key, and a query OOV for the searcher
    contributes nothing (is_embedded gate).  Each query's candidates
    (docs some searcher hit) are densified: a searcher that embedded
    the query but missed the doc scores it its fill.  The weighted
    scores reduce by the env strategy (A6), zero scores drop, and the
    docs no searcher hit — one constant pad score per query — enter as
    that query's k lowest non-candidate ids."""
    spark = env.spark
    sets = []                       # (hits, live query ids, weight, fill)
    for s, wgt in chosen:
        if isinstance(s, InvertedIndex):
            qt = embed_queries(spark, s, queries, isregex=isregex)
            h, s0, emb = classic_hits(s, qt), fill_score(s.cfg), qt
        else:
            h, emb = s.sparse_hits_batch(spark, queries)
            s0 = s.fill_score()
        # emb is a LocalRelation: its collect launches no job
        live = {r["query_id"] for r in emb.select("query_id").collect()}
        if live:
            if ids is not None:
                h = h.join(ids, "doc_id", "left_semi")
            sets.append((h, live, wgt, s0))
    if not sets:
        return local_frame(spark, [],
                           "query_id INT, doc_id LONG, score DOUBLE, rank INT")
    qids = sorted(set().union(*(live for _, live, _, _ in sets)))
    # one query keys on doc_id alone: the joins then ride the hits'
    # doc_id partitioning (a (query_id, doc_id) key reshuffles both
    # sides), and its query id returns as a literal at the end
    one = len(qids) == 1
    keys = ["doc_id"] if one else ["query_id", "doc_id"]

    cands = reduce(DataFrame.unionByName,
                   [h.select(*keys) for h, _, _, _ in sets]).distinct()
    dens = []
    for h, live, wgt, s0 in sets:
        c = cands
        if len(live) < len(qids):
            c = c.join(F.broadcast(local_frame(spark,
                [(q,) for q in sorted(live)], "query_id INT")),
                "query_id", "left_semi")
        dens.append(c.join(h.select(*keys, "score"), keys, "left")
                    .select(*keys,
                            (F.lit(wgt) * F.coalesce("score", F.lit(s0)))
                            .alias("wscore")))
    hits = strategy_agg(reduce(DataFrame.unionByName, dens).groupBy(*keys),
                        env.aggregation).where(F.col("score") > 0)

    # the pad: every doc no searcher hit scores the strategy over the
    # live searchers' weighted fills (zero-score drop included).  Dense
    # scores can fall below it, so the low-id cut must come AFTER the
    # candidates are excluded.  free = the k lowest ids in no query's
    # candidate set C; a query's k lowest non-candidates lie in
    # free ∪ (C ∖ C_q), none above max(free) — all of C when free is
    # short.  With one query C_q = C and free alone is its pad.
    pad_scores = [(q, strategy_scalar([w * s0 for _, live, w, s0 in sets
                                       if q in live], env.aggregation))
                  for q in qids]
    pad_scores = [(q, p) for q, p in pad_scores if p > 0]
    if pad_scores:
        pool = env.index.docs.select("doc_id") if ids is None else ids
        cdocs = cands.select("doc_id")
        low = (pool.join(cdocs, "doc_id", "left_anti")
               .orderBy("doc_id").limit(k))
        if one:
            pads = low.withColumn("score", F.lit(pad_scores[0][1]))
        else:
            edge = low.agg(F.max("doc_id").alias("_mx"),
                           F.count("*").alias("_n"))
            low = low.unionByName(
                cdocs.distinct().crossJoin(edge)
                .where((F.col("doc_id") < F.col("_mx")) | (F.col("_n") < k))
                .select("doc_id"))
            wlow = Window.partitionBy("query_id").orderBy("doc_id")
            pads = (F.broadcast(local_frame(spark, pad_scores,
                                            "query_id INT, score DOUBLE"))
                    .crossJoin(low)
                    .join(cands, keys, "left_anti")
                    .withColumn("_r", F.row_number().over(wlow))
                    .where(F.col("_r") <= k).drop("_r"))
        hits = hits.unionByName(pads)

    rank_on = (F.round(F.col("score"), tiebreak_round)
               if tiebreak_round is not None else F.col("score"))
    order = [rank_on.desc(), F.col("doc_id").asc()]
    if one:
        # one query: distributed top-k (TakeOrdered), then the ≤ k-row
        # ranking window
        w = Window.orderBy(*order)
        return (hits.orderBy(*order).limit(k)
                .select(F.lit(qids[0]).alias("query_id"), "doc_id", "score",
                        F.row_number().over(w).alias("rank")))
    w = Window.partitionBy("query_id").orderBy(*order)
    return (hits.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank"))


def search_grouped(env: SearchEnv, request: InternalRequest
                   ) -> dict[str, DataFrame]:
    """Per-``id_aggregation`` result groups (results.jl:48-96
    ``aggregate!``): searchers SHARING an aggregation id merge into one
    result under the env strategy; searchers with their own id keep a
    separate result — the reference returns this list of SearchResults,
    here a dict {aggregation id → (doc_id, score, rank)}.

    ``env.agg_ids`` aligns with [index] + searchers (set by
    plans.env_config from each searcher's ``id_aggregation`` key); a
    None entry means the shared environment-level id — the reference's
    default, where everything merges (so an env with no explicit
    ``id_aggregation`` returns exactly ``{"__env__": search(env, req)}``).
    Filter-only and empty requests have no per-searcher results in the
    reference either — they produce the single environment entry."""
    parsed = parse_input(env.schema, request.query, request.input_parser,
                         searchable_filters=request.searchable_filters,
                         keep_punct=(request.search_method == "regex"))
    ids = env.agg_ids or []
    ids = (list(ids) + [None] * (1 + len(env.searchers)))[
        :1 + len(env.searchers)]
    if not parsed.search.strip() or all(g is None for g in ids):
        return {"__env__": search(env, request)}
    groups: dict[str, list[int]] = {}
    for pos, gid in enumerate(ids):
        groups.setdefault(gid if gid is not None else "__env__",
                          []).append(pos)
    return {gid: search(env, request, _searcher_subset=pos)
            for gid, pos in groups.items()}


def search_many(env: SearchEnv, requests: list[InternalRequest]
                ) -> DataFrame:
    """Batched lifecycle search: N requests → ONE DataFrame DAG →
    (request_id, doc_id, score, rank) — the multi-request twin of
    :func:`search`, closing the round-3 gap where every dense searcher
    ran a per-request corpus job (an N-query mixed-env batch launched
    O(N) jobs; this path launches O(#searchers)).

    Per searcher the whole batch embeds in one local_frame + join
    (``embed_queries`` for classic indexes — already batch-shaped —
    and :meth:`DenseVectorSearcher.sparse_hits_batch` for dense ones),
    and the batch goes through :func:`merge`, the merge a single
    request uses, with each request's index as its query id.  Requests
    that need the filter plans (P10) fall back to :func:`search`
    individually — the batched shape is the search-only hot path,
    matching the classic engine's batched ``topk_plan``.

    Batched (search-only) requests must share ``tiebreak_round`` (one
    ranking key per window); fallback requests rank individually and
    may use any round."""
    spark = env.spark
    if any(r.operation != "search" for r in requests):
        raise ValueError("search_many handles operation='search' only")

    parsed = [parse_input(env.schema, r.query, r.input_parser,
                          searchable_filters=r.searchable_filters)
              for r in requests]
    n_live = env.index.meta.get("n_live_docs", env.index.meta["n_docs"])
    batch: list[int] = []      # request indexes served by the batch plan
    fallback: list[int] = []   # filter-only / combined → single path
    for i, p in enumerate(parsed):
        # regex requests embed through the vocabulary-expansion path
        # and custom_weights reweight the per-searcher merge — both are
        # single-request plans; batching them here would silently run
        # them as plain exact searches with env weights
        if (p.search.strip() and not p.filter
                and requests[i].search_method != "regex"
                and not requests[i].custom_weights):
            batch.append(i)
        else:
            fallback.append(i)

    parts = [search(env, requests[i]).select(
                 F.lit(i).alias("request_id"), "doc_id", "score", "rank")
             for i in fallback]

    if batch:
        # the ranking window is shared by every BATCHED request (one
        # ranking key per window); fallback requests rank individually
        # inside search(), so their tiebreak_round is unconstrained
        rounds = {requests[i].tiebreak_round for i in batch}
        if len(rounds) > 1:
            raise ValueError(
                "search_many requires a uniform tiebreak_round across "
                "batched (search-only) requests")
        tiebreak_round = next(iter(rounds))
        # query ids are request ids: a fallback request's slot is an
        # empty query, which no searcher embeds
        queries = [""] * len(requests)
        for i in batch:
            queries[i] = parsed[i].search
        ks = [(i, min(requests[i].max_matches, n_live)) for i in batch]
        max_k = max(k for _, k in ks)
        if not env.searchers:
            qt = embed_queries(spark, env.index, queries)
            hits = topk_plan(env.index, qt, max_k,
                             tiebreak_round=tiebreak_round, pad_to_k=True)
        else:
            hits = merge(env, [(env.index, env.score_weight),
                               *env.searchers],
                         queries, max_k, tiebreak_round)
        if any(k < max_k for _, k in ks):
            hits = (hits.join(F.broadcast(local_frame(spark, ks,
                                                      "query_id INT, k INT")),
                              "query_id")
                    .where(F.col("rank") <= F.col("k")))
        parts.append(hits.select(
            F.col("query_id").cast("int").alias("request_id"),
            "doc_id", "score", "rank"))

    if not parts:
        return local_frame(spark, [],
                           "request_id INT, doc_id LONG, score DOUBLE, rank INT")
    return reduce(DataFrame.unionByName, parts)


def rank_ids(env: SearchEnv, request: InternalRequest) -> DataFrame:
    """:rank operation (rank.jl:37-58): explicit id list in the query →
    ranker reorders → linear scores range(1, 0)."""
    ids = [int(t) for t in request.query.replace(",", " ").split()]
    ranker = get_ranker(request.ranker)
    ids, _ = ranker(ids, [0.0] * len(ids), request, env)
    denom = max(len(ids) - 1, 1)
    rows = [(d, 1.0 - i / denom, i + 1) for i, d in enumerate(ids)]
    out = local_frame(env.spark, rows, "doc_id LONG, score DOUBLE, rank INT")
    # keep only ids that exist in the table (J1 semi-join)
    return out.join(env.index.docs.select("doc_id"), "doc_id", "left_semi")


def recommend(env: SearchEnv, request: InternalRequest) -> DataFrame:
    """:recommend (recommend.jl:28-37): seed row → structured query →
    search path with the seed excluded (P9)."""
    seed_id = int(request.query.strip())
    recommender = get_recommender(request.recommender)
    gen_query = recommender(request, env)
    if not gen_query:
        return local_frame(env.spark,
            [], "doc_id LONG, score DOUBLE, rank INT")
    sub = InternalRequest(operation="search", query=gen_query,
                          max_matches=request.max_matches + 1,
                          input_parser="base_input_parser")
    hits = search(env, sub).where(F.col("doc_id") != F.lit(seed_id)) \
        .withColumnRenamed("rank", "_old_rank")
    w = Window.orderBy(F.col("_old_rank").asc())
    return (hits.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= request.max_matches).drop("_old_rank"))


def _respond_hits(env: SearchEnv, request: InternalRequest) -> DataFrame:
    """Operation dispatch (server/search.jl:51-127): the FULL ranked
    hit set, before pagination."""
    op = request.operation
    if op == "search":
        return search(env, request)
    if op == "rank":
        return rank_ids(env, request)
    if op == "recommend":
        return recommend(env, request)
    raise ValueError(f"unsupported operation: {op}")


def _paginate_hydrate(env: SearchEnv, request: InternalRequest,
                      hits: DataFrame) -> DataFrame:
    """Hydration (J2) + pagination (T4: response_size/response_page
    windowing, server/search.jl:151-152)."""
    lo = (request.response_page - 1) * request.response_size
    hi = lo + request.response_size
    hits = hits.where((F.col("rank") > lo) & (F.col("rank") <= hi))
    cols = [c for c in (request.return_fields
                        or [c for c in env.index.docs.columns
                            if c != "doc_id"])
            if c in env.index.docs.columns and c != "doc_id"]
    docs = env.index.docs.select("doc_id", *cols)
    return docs.join(F.broadcast(hits), "doc_id") \
               .select("doc_id", "score", "rank", *cols)


def respond(env: SearchEnv, request: InternalRequest) -> DataFrame:
    """Operation dispatch + hydration + pagination."""
    return _paginate_hydrate(env, request, _respond_hits(env, request))


def response_json(env: SearchEnv, request: InternalRequest) -> str:
    """F15 response building: collect the (small, paginated) respond()
    result and JSON-encode it — the serving-layer boundary
    (/root/reference/src/server/search.jl:135-170 build_response;
    transports themselves are out of engine scope)."""
    import json
    hits = _respond_hits(env, request)
    # the reference's n_total_results counts ALL matches BEFORE the
    # page window (search.jl:141) — a client paging through 100 hits
    # must see 100 on every page, not the page length.  ONE execution
    # of the ranking DAG: collect the (≤ max_matches) ranked id set,
    # derive the total and the page slice driver-side, and hydrate only
    # the page rows through a LocalRelation join — a hits.count() here
    # would re-run the whole ranking plan a second time per request.
    hit_rows = hits.collect()
    n_total = len(hit_rows)
    lo = (request.response_page - 1) * request.response_size
    hi = lo + request.response_size
    page = [r for r in hit_rows if lo < r["rank"] <= hi]
    page_df = local_frame(env.spark, page, hits.schema)
    rows = [r.asDict()
            for r in _paginate_hydrate(env, request, page_df).collect()]
    rows.sort(key=lambda r: r["rank"])
    suggestions: dict[str, list[str]] = {}
    if (request.max_suggestions > 0 and request.operation == "search"
            and env.suggest_metric is not None):
        # A8/F10: suggestions for query tokens missing from the vocab
        # (src/search/index.jl:116-127; disabled by default like the
        # reference heuristic=nothing, defaults.jl:18).  The distance
        # comes from the primary searcher's ``heuristic`` config key
        # (env.suggest_metric; None ⇒ no suggestions even when the
        # request asks).  jaro distances live in [0,1] — its band is
        # the reference BKTree's small-radius regime, not edit counts.
        from garamond_jl_spark.functions.query_parser import parse_input
        from garamond_jl_spark.functions.suggest import (missing_needles,
                                                         suggest_terms)
        from garamond_jl_spark.functions.textprep import prepare_and_tokenize
        parsed = parse_input(env.schema, request.query, request.input_parser)
        toks = prepare_and_tokenize(parsed.search, env.index.cfg)
        missed = missing_needles(env.index.terms, toks)
        if missed:
            max_d = 0.25 if env.suggest_metric == "jaro" else 2
            for r in suggest_terms(env.index.terms, missed,
                                   max_distance=max_d,
                                   max_suggestions=request.max_suggestions,
                                   metric=env.suggest_metric) \
                    .collect():
                suggestions.setdefault(r["needle"], []).append(r["suggestion"])
    return json.dumps({
        "operation": request.operation,
        "query": request.query,
        "n_total_results": n_total,
        "results": rows,
        "suggestions": suggestions,
    }, default=str)
