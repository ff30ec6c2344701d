"""End-to-end lifecycle: indexfilter semantics (mirrors
/root/reference/test/indexfilter.jl expectations), the three plan shapes
(main.jl:6-53), rank and recommend operations, pagination."""

import pytest
from pyspark.sql import functions as F

from garamond_jl_spark.config import EngineConfig
from garamond_jl_spark.corpus import corpus_df
from garamond_jl_spark.operators.build import build_index
from garamond_jl_spark.operators.filters import indexfilter
from garamond_jl_spark.plans.lifecycle import (InternalRequest, SearchEnv,
                                               recommend, respond, search)

CFG = EngineConfig(score_alpha=0.4)


@pytest.fixture(scope="module")
def env(spark):
    docs = corpus_df(spark, 120, seed=42, partitions=4)
    index = build_index(spark, docs, CFG, id_col=None)
    index.docs = index.docs.persist()
    index.postings = index.postings.persist()
    return SearchEnv(spark=spark, index=index)


def _jobs_of(spark, group, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ---- indexfilter unit semantics (test/indexfilter.jl analog) -------------

@pytest.fixture(scope="module")
def tbl(spark):
    rows = [(i, 1000 * i, i / 10.0, "ABCDE"[:1 + i % 5]) for i in range(1, 11)]
    return spark.createDataFrame(
        rows, "x LONG, intf LONG, floatf DOUBLE, strf STRING")


def ids(df):
    return sorted(r[0] for r in df.collect())


def test_indexfilter_equality(tbl):
    assert ids(indexfilter(tbl, {"intf": 3000}, id_key="x")) == [3]


def test_indexfilter_set_membership(tbl):
    assert ids(indexfilter(tbl, {"intf": (1000, 4000)}, id_key="x")) == [1, 4]


def test_indexfilter_contains_any(tbl):
    # strf = "ABCDE"[:1 + x % 5]: only x=4 and x=9 carry the full
    # 5-char prefix containing 'E'
    got = ids(indexfilter(tbl, {"strf": ("E",)}, id_key="x"))
    assert got == [4, 9]
    # contains-ANY over a string tuple (P5)
    got = ids(indexfilter(tbl, {"strf": ("E", "D")}, id_key="x"))
    assert got == [3, 4, 8, 9]


def test_indexfilter_interval(tbl):
    assert ids(indexfilter(tbl, {"floatf": [0.25, 0.65]}, id_key="x")) == \
        [3, 4, 5, 6]


def test_indexfilter_malformed_interval_passthrough(tbl):
    assert ids(indexfilter(tbl, {"floatf": [0.25]}, id_key="x")) == \
        list(range(1, 11))


def test_indexfilter_conjunction_exclude_unknown(tbl):
    got = ids(indexfilter(tbl, {"intf": [2000, 8000], "nokey": 1},
                          id_key="x", exclude=5))
    assert got == [2, 3, 4, 6, 7, 8]


def test_indexfilter_missing_id_key(tbl):
    assert indexfilter(tbl, {"intf": 1000}, id_key="nope").count() == 0


# ---- plan shapes ----------------------------------------------------------

def test_search_only_plan(env):
    req = InternalRequest(query="main run data", max_matches=5)
    got = search(env, req).collect()
    assert len(got) == 5
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == \
        [1, 2, 3, 4, 5]


def test_filter_only_plan(env):
    req = InternalRequest(query='lang:"python"', max_matches=10,
                          sort_fields=["doclen"], sort_reverse=True)
    got = search(env, req).collect()
    assert 0 < len(got) <= 10
    # linear scores range(1,0): top rank has score 1.0
    best = min(got, key=lambda r: r["rank"])
    assert best["score"] == pytest.approx(1.0)
    # all python docs
    langs = {r["lang"] for r in
             env.index.docs.join(
                 env.spark.createDataFrame(
                     [(r["doc_id"],) for r in got], "doc_id LONG"),
                 "doc_id").select("lang").collect()}
    assert langs == {"python"}


def test_filter_only_plan_builds_without_jobs(spark, env):
    """Building a filter-only request's plan runs no job: the linear
    scores take their length from a window count, not a driver
    count() before the plan runs."""
    req = InternalRequest(query='lang:"python"', max_matches=10,
                          sort_fields=["doclen"], sort_reverse=True)
    search(env, req).collect()                    # warm
    _, n = _jobs_of(spark, "filter-only-build", lambda: search(env, req))
    assert n == 0


def test_combined_plan(env):
    req_all = InternalRequest(query="main run data", max_matches=120)
    all_hits = {r["doc_id"]: r["score"] for r in search(env, req_all).collect()}
    req = InternalRequest(query='main run data lang:"go"', max_matches=10)
    got = search(env, req).collect()
    assert got
    go_ids = {r["doc_id"] for r in
              env.index.docs.where(F.col("lang") == "go")
              .select("doc_id").collect()}
    for r in got:
        assert r["doc_id"] in go_ids
        assert r["score"] == pytest.approx(all_hits[r["doc_id"]], abs=1e-9)


def test_rank_operation(env):
    some = [r["doc_id"] for r in env.index.docs.limit(3).collect()]
    req = InternalRequest(operation="rank",
                          query=" ".join(map(str, some + [999999])))
    got = sorted(respond(env, req).collect(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in got] == some  # nonexistent id dropped
    assert got[0]["score"] == pytest.approx(1.0)


def test_recommend_operation(env):
    req = InternalRequest(operation="recommend", query="5", max_matches=5,
                          return_fields=["lang"])
    got = recommend(env, req).collect()
    assert all(r["doc_id"] != 5 for r in got)
    assert 0 < len(got) <= 5


def test_pagination(env):
    req1 = InternalRequest(query="main run data", max_matches=20,
                           response_size=5, response_page=1)
    req2 = InternalRequest(query="main run data", max_matches=20,
                           response_size=5, response_page=2)
    p1 = sorted(respond(env, req1).collect(), key=lambda r: r["rank"])
    p2 = sorted(respond(env, req2).collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in p1] == [1, 2, 3, 4, 5]
    assert [r["rank"] for r in p2] == [6, 7, 8, 9, 10]
    assert {r["doc_id"] for r in p1}.isdisjoint({r["doc_id"] for r in p2})


def test_multi_searcher_env(spark, env):
    """Two searchers over the same table (different weighting schemes),
    mean-aggregated with score_weight 0.8/0.5 (A6 through the lifecycle,
    reference multi-searcher env, results.jl:54-145)."""
    from garamond_jl_spark.plans.lifecycle import SearchEnv as SE
    idx2 = build_index(spark, corpus_df(spark, 120, seed=42, partitions=4),
                       EngineConfig(weighting="tfidf", score_alpha=0.4),
                       id_col=None)
    menv = SE(spark=spark, index=env.index, score_weight=0.8,
              searchers=[(idx2, 0.5)], aggregation="mean")
    req = InternalRequest(query="main run data", max_matches=8)
    got = sorted(search(menv, req).collect(), key=lambda r: r["rank"])
    assert len(got) == 8
    # mean of weighted per-searcher scores: verify one doc's value
    s1 = {r["doc_id"]: r["score"] for r in search(env, InternalRequest(
        query="main run data", max_matches=120)).collect()}
    env2 = SE(spark=spark, index=idx2)
    s2 = {r["doc_id"]: r["score"] for r in search(env2, InternalRequest(
        query="main run data", max_matches=120)).collect()}
    top = got[0]
    want = (0.8 * s1[top["doc_id"]] + 0.5 * s2[top["doc_id"]]) / 2
    assert top["score"] == pytest.approx(want, abs=1e-9)


def test_heterogeneous_env_boe_plus_bm25(spark, env):
    """Reference config-2 shape: a classic BM25 searcher and a BOE
    semantic searcher in ONE env, :mean-aggregated (results.jl:54-145).
    Verifies the merged score is the mean of the weighted per-searcher
    scores, with the BOE side going through the same score transform."""
    import math
    from garamond_jl_spark.operators.semantic import (BOESearcher,
                                                      synthetic_word_vectors)
    from garamond_jl_spark.plans.lifecycle import SearchEnv as SE
    from garamond_jl_spark.operators.build import assign_dense_ids
    docs = assign_dense_ids(corpus_df(spark, 120, seed=42, partitions=4),
                            ["repo", "path", "commit"])
    tok = (docs.select("doc_id", F.explode(F.split("content", " "))
                       .alias("term")).where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wv = synthetic_word_vectors(tf.select("term"), dim=16, seed=0)
    boe = BOESearcher.from_tokens(tf, wv, score_alpha=CFG.score_alpha)
    menv = SE(spark=spark, index=env.index, score_weight=0.8,
              searchers=[(boe, 0.8)], aggregation="mean")
    req = InternalRequest(query="main run data", max_matches=8)
    got = sorted(search(menv, req).collect(), key=lambda r: r["rank"])
    assert len(got) == 8
    s1 = {r["doc_id"]: r["score"] for r in search(env, InternalRequest(
        query="main run data", max_matches=120)).collect()}
    bh = {r["doc_id"]: r["score"]
          for r in boe.sparse_hits(spark, "main run data").collect()}
    fill = 1.0 - math.tanh(CFG.score_alpha)
    top = got[0]
    want = (0.8 * s1.get(top["doc_id"], fill)
            + 0.8 * bh.get(top["doc_id"], fill)) / 2
    assert top["score"] == pytest.approx(want, abs=1e-9)


def test_heterogeneous_env_oov_gate_per_searcher(spark, env):
    """The is_embedded gate applies PER SEARCHER: a query OOV for the
    BOE searcher's (restricted) vocabulary but in-vocab for BM25 must
    silently drop the BOE contribution (dtv.jl:53-58 semantics carried
    into the aggregation) — the merged result equals the single-searcher
    BM25 result; and a query OOV for EVERY searcher returns no rows."""
    from garamond_jl_spark.operators.semantic import (BOESearcher,
                                                      synthetic_word_vectors)
    from garamond_jl_spark.plans.lifecycle import SearchEnv as SE
    from garamond_jl_spark.operators.build import assign_dense_ids
    docs = assign_dense_ids(corpus_df(spark, 120, seed=42, partitions=4),
                            ["repo", "path", "commit"])
    tok = (docs.select("doc_id", F.explode(F.split("content", " "))
                       .alias("term")).where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # restrict the BOE vocabulary so "main"/"run"/"data" are OOV for it
    tf_r = tf.where(~F.col("term").isin("main", "run", "data"))
    wv = synthetic_word_vectors(tf_r.select("term"), dim=16, seed=0)
    boe = BOESearcher.from_tokens(tf_r, wv, score_alpha=CFG.score_alpha)
    assert boe.sparse_hits(spark, "main run data") is None  # the gate
    menv = SE(spark=spark, index=env.index, score_weight=1.0,
              searchers=[(boe, 0.8)], aggregation="mean")
    req = InternalRequest(query="main run data", max_matches=8)
    merged = sorted(search(menv, req).collect(), key=lambda r: r["rank"])
    solo = sorted(search(env, req).collect(), key=lambda r: r["rank"])
    assert [(r["doc_id"], r["score"]) for r in merged] == \
           [(r["doc_id"], r["score"]) for r in solo]
    # OOV for both searchers ⇒ empty
    req2 = InternalRequest(query="zzzz_nowhere", max_matches=8)
    assert search(menv, req2).count() == 0


def test_suggestions_in_response(spark, env):
    import json
    from garamond_jl_spark.plans.lifecycle import response_json
    req = InternalRequest(query="mainx run", max_suggestions=3)
    out = json.loads(response_json(env, req))
    assert "mainx" in out["suggestions"]
    assert "main" in out["suggestions"]["mainx"]


def test_lifecycle_large_vector_oov_docs(spark):
    """E8 through the LIFECYCLE sparse path: with
    oov_policy='large_vector' an all-OOV document is a real hit at the
    constant-fill-vector score (identical to the plain search path's
    result, which is oracle-verified in test_rank_identity)."""
    from garamond_jl_spark.operators.query import search as qsearch
    texts = ["alpha beta gamma", "beta gamma delta", "!!! ??? ...",
             "alpha alpha beta"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id LONG, content STRING")
    cfg = EngineConfig(score_alpha=0.4, oov_policy="large_vector")
    idx = build_index(spark, df, cfg, id_col="doc_id")
    env = SearchEnv(spark=spark, index=idx)
    got = sorted(search(env, InternalRequest(query="alpha",
                                             max_matches=4)).collect(),
                 key=lambda r: r["rank"])
    want = sorted(qsearch(spark, idx, ["alpha"], k=4,
                          hydrate=False).collect(),
                  key=lambda r: r["rank"])
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]
    for a, b in zip(got, want):
        assert a["score"] == pytest.approx(b["score"], abs=1e-12)
    assert any(r["doc_id"] == 2 for r in got)  # the all-OOV doc is a hit


@pytest.fixture(scope="module")
def mixed_env(spark):
    """sf0.001 classic + BOE env, weights 0.8/0.8, :mean."""
    from garamond_jl_spark.operators.semantic import (
        BOESearcher, synthetic_word_vectors)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(spark, docs, EngineConfig(score_alpha=0.4),
                      id_col="doc_id", text_col="text")
    tok = (docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("term"))
           .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wv = synthetic_word_vectors(tf.select("term"), dim=16, seed=0)
    boe = BOESearcher.from_tokens(tf, wv, score_alpha=0.4)
    return SearchEnv(spark=spark, index=idx, score_weight=0.8,
                     searchers=[(boe, 0.8)], aggregation="mean")


def test_search_many_matches_single_requests(spark, mixed_env):
    """Batched lifecycle search: N mixed-env requests in one DAG return
    exactly what N single search() calls return — including an
    all-OOV query (empty result) and per-request max_matches — while
    launching O(#searchers) jobs, not O(N)."""
    from garamond_jl_spark.plans.lifecycle import search_many

    env = mixed_env
    texts = ["spark join data", "window batch merge", "stream filter map",
             "shuffle sort spill", "cache persist disk",
             "broadcast hash join", "column prune scan"]
    reqs = [InternalRequest(query=t, max_matches=10, tiebreak_round=6)
            for t in texts]
    reqs[1].max_matches = 5
    reqs += [InternalRequest(query="zzzz_not_in_vocab_anywhere",
                             max_matches=5, tiebreak_round=6),
             InternalRequest(query='spark lang:"en"', max_matches=7,
                             tiebreak_round=6)]   # filter → fallback path

    got, n_batch = _jobs_of(spark, "smany",
                            lambda: search_many(env, reqs).collect())
    wants, n_single = _jobs_of(spark, "ssingle", lambda: [
        sorted(search(env, req).collect(), key=lambda r: r["rank"])
        for req in reqs])

    by_req = {}
    for r in got:
        by_req.setdefault(r["request_id"], []).append(r)
    for i, want in enumerate(wants):
        have = sorted(by_req.get(i, []), key=lambda r: r["rank"])
        assert [(r["doc_id"], r["rank"]) for r in have] == \
            [(r["doc_id"], r["rank"]) for r in want], f"request {i}"
        for a, b in zip(have, want):
            assert a["score"] == pytest.approx(b["score"], abs=1e-12)
    assert not by_req.get(7)          # OOV request: empty
    assert len(by_req[1]) == 5        # per-request max_matches honored
    # raw Spark job counts are AQE/broadcast-inflated, so the honest
    # check is relative: the batch DAG launches fewer jobs than the
    # per-request loop over the SAME requests (batch job count is flat
    # in N while singles grow linearly)
    assert n_batch < n_single, (n_batch, n_single)


def test_search_many_one_request_costs_a_search(spark, mixed_env):
    """A one-request batch is the single request's merge: warm, it
    launches no more jobs than search() of the same request.  AQE runs
    a query stage as its own job or inside a later one depending on
    timing, so an identical plan varies by ±2 jobs: the batch's fewest
    over three warm calls must not exceed the single request's most."""
    from garamond_jl_spark.plans.lifecycle import search_many
    req = InternalRequest(query="spark join data", max_matches=10,
                          tiebreak_round=6)
    one = sorted(search(mixed_env, req).collect(), key=lambda r: r["rank"])
    many = sorted(search_many(mixed_env, [req]).collect(),
                  key=lambda r: r["rank"])
    assert [(r["doc_id"], r["score"], r["rank"]) for r in many] == \
        [(r["doc_id"], r["score"], r["rank"]) for r in one]
    n_one, n_many = [], []
    for i in range(3):
        n_one.append(_jobs_of(spark, f"one-{i}", lambda: search(
            mixed_env, req).collect())[1])
        n_many.append(_jobs_of(spark, f"many-{i}", lambda: search_many(
            mixed_env, [req]).collect())[1])
    assert min(n_many) <= max(n_one), (n_many, n_one)


class _FixedDense:
    """A dense searcher with fixed hits per query text — the
    ``sparse_hits_batch`` / ``fill_score`` interface of the merge."""

    def __init__(self, hits: dict[str, list[tuple[int, float]]]):
        self.hits = hits

    def sparse_hits_batch(self, spark, queries):
        from garamond_jl_spark.session import local_frame
        live = [q for q, text in enumerate(queries) if text in self.hits]
        rows = [(q, d, s) for q in live for d, s in self.hits[queries[q]]]
        return (local_frame(spark, rows,
                            "query_id INT, doc_id LONG, score DOUBLE"),
                local_frame(spark, [(q,) for q in live], "query_id INT"))

    def fill_score(self):
        from garamond_jl_spark.operators.query import fill_score
        return fill_score(CFG)


def test_pad_is_exact_when_dense_scores_fall_below_it(spark):
    """The pad enters after the candidate anti-join: a dense searcher
    scores the lowest doc ids BELOW the pad, and two queries' candidate
    sets differ (each query's lowest non-candidates include the other's
    candidates).  search_many and per-request search() both equal a
    driver-side merge that densifies over every doc."""
    from garamond_jl_spark.operators.query import (embed_queries,
                                                   fill_score)
    from garamond_jl_spark.plans.lifecycle import classic_hits, search_many
    texts = {20: "alpha x20", 21: "alpha alpha x21", 22: "beta x22"}
    df = spark.createDataFrame(
        [(i, texts.get(i, f"x{i}")) for i in range(30)],
        "doc_id LONG, content STRING")
    idx = build_index(spark, df, CFG, id_col="doc_id")
    low, high = 0.05, 0.99           # dense fill is 1 − tanh(0.4) ≈ 0.62
    dense = _FixedDense({
        "alpha": [(d, low) for d in range(8)] + [(25, high)],
        "beta": [(d, low) for d in (0, 1, 2, 3, 4, 5, 8, 9)]
        + [(26, high)]})
    env = SearchEnv(spark=spark, index=idx, score_weight=0.8,
                    searchers=[(dense, 0.8)], aggregation="mean")
    reqs = [InternalRequest(query=q, max_matches=8)
            for q in ("alpha", "beta")]

    fc = fill_score(CFG)
    wants = []
    for req in reqs:
        ch = {r["doc_id"]: r["score"] for r in classic_hits(
            idx, embed_queries(spark, idx, [req.query])).collect()}
        dh = dict(dense.hits[req.query])
        scores = sorted(((0.8 * ch.get(d, fc) + 0.8 * dh.get(d, fc)) / 2, d)
                        for d in range(30))
        top = sorted(scores, key=lambda t: (-t[0], t[1]))[:8]
        wants.append([(d, s, r + 1) for r, (s, d) in enumerate(top)])
    # the fixture bites: some of each query's top 8 are pad docs that
    # rank above lower-id candidates
    assert all(any(d > 5 and d not in dense.hits[req.query]
                   for d, _, _ in want) for req, want in zip(reqs, wants))

    batch = {}
    for r in search_many(env, reqs).collect():
        batch.setdefault(r["request_id"], []).append(
            (r["doc_id"], r["score"], r["rank"]))
    for i, (req, want) in enumerate(zip(reqs, wants)):
        single = [(r["doc_id"], r["score"], r["rank"])
                  for r in search(env, req).collect()]
        for got in (sorted(single, key=lambda t: t[2]),
                    sorted(batch[i], key=lambda t: t[2])):
            assert [(d, r) for d, _, r in got] == \
                [(d, r) for d, _, r in want], req.query
            for (_, a, _), (_, b, _) in zip(got, want):
                assert a == pytest.approx(b, abs=1e-12)


def test_search_many_single_searcher_env(spark):
    """Batched path without extra searchers = the classic batched
    topk_plan, keyed back to request ids."""
    from garamond_jl_spark.plans.lifecycle import search_many
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(spark, docs, EngineConfig(score_alpha=0.4),
                      id_col="doc_id", text_col="text")
    env = SearchEnv(spark=spark, index=idx)
    reqs = [InternalRequest(query="spark join data", max_matches=3),
            InternalRequest(query="window batch merge", max_matches=4)]
    got = search_many(env, reqs).collect()
    by_req = {}
    for r in got:
        by_req.setdefault(r["request_id"], []).append(r)
    for i, req in enumerate(reqs):
        want = sorted(search(env, req).collect(), key=lambda r: r["rank"])
        have = sorted(by_req[i], key=lambda r: r["rank"])
        assert [(r["doc_id"], r["rank"]) for r in have] == \
            [(r["doc_id"], r["rank"]) for r in want]


def test_search_many_mixed_tiebreak_on_fallback_requests(spark):
    """Filter-only requests route to the per-request fallback and rank
    individually — their (default) tiebreak_round must NOT be forced to
    match the batched requests' shared round (regression: the uniform
    check used to run over ALL requests and rejected this valid mix).
    Batched requests that genuinely disagree still raise."""
    from garamond_jl_spark.plans.lifecycle import search_many
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(spark, docs, EngineConfig(score_alpha=0.4),
                      id_col="doc_id", text_col="text")
    env = SearchEnv(spark=spark, index=idx)

    reqs = [InternalRequest(query="spark join data", max_matches=5,
                            tiebreak_round=6),
            InternalRequest(query='lang:"en"', max_matches=4)]  # round None
    got = search_many(env, reqs).collect()
    by_req = {}
    for r in got:
        by_req.setdefault(r["request_id"], []).append(r)
    for i, req in enumerate(reqs):
        want = sorted(search(env, req).collect(), key=lambda r: r["rank"])
        have = sorted(by_req.get(i, []), key=lambda r: r["rank"])
        assert [(r["doc_id"], r["rank"]) for r in have] == \
            [(r["doc_id"], r["rank"]) for r in want], f"request {i}"

    bad = [InternalRequest(query="spark join", tiebreak_round=6),
           InternalRequest(query="window merge", tiebreak_round=3)]
    with pytest.raises(ValueError, match="uniform tiebreak_round"):
        search_many(env, bad)


def test_search_grouped_id_aggregation(spark, env):
    """results.jl:48-96 aggregate!-by-id semantics: searchers sharing an
    ``id_aggregation`` merge into one result; searchers with their own
    id keep a separate result.  All-None groups ≡ plain search; a
    singleton classic group reproduces the classic-only search; a
    two-searcher group reproduces the equivalent merged env."""
    import math
    from garamond_jl_spark.operators.semantic import (
        BOESearcher, synthetic_word_vectors)
    from garamond_jl_spark.plans.lifecycle import SearchEnv as SE
    from garamond_jl_spark.plans.lifecycle import search_grouped
    from garamond_jl_spark.operators.build import assign_dense_ids
    docs = assign_dense_ids(corpus_df(spark, 120, seed=42, partitions=4),
                            ["repo", "path", "commit"])
    tok = (docs.select(
        "doc_id", F.explode(F.split("content", " ")).alias("term"))
        .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wv = synthetic_word_vectors(tf.select("term"), dim=16, seed=0)
    boe_a = BOESearcher.from_tokens(tf, wv, score_alpha=CFG.score_alpha)
    boe_b = BOESearcher.from_tokens(tf, wv, score_alpha=0.6)
    req = InternalRequest(query="main run data", max_matches=6,
                          tiebreak_round=9)

    def rows(df):
        return [(r["doc_id"], round(r["score"], 9)) for r in
                sorted(df.collect(), key=lambda r: r["rank"])]

    # all-None agg ids ⇒ one env-level group identical to search()
    menv = SE(spark=spark, index=env.index, score_weight=0.8,
              searchers=[(boe_a, 0.8), (boe_b, 0.5)], aggregation="mean")
    got = search_grouped(menv, req)
    assert set(got) == {"__env__"}
    assert rows(got["__env__"]) == rows(search(menv, req))

    # classic alone + the two BOE searchers sharing "dense"
    genv = SE(spark=spark, index=env.index, score_weight=0.8,
              searchers=[(boe_a, 0.8), (boe_b, 0.5)], aggregation="mean",
              agg_ids=["classic", "dense", "dense"])
    got = search_grouped(genv, req)
    assert set(got) == {"classic", "dense"}
    solo = search(SE(spark=spark, index=env.index), req)
    assert rows(got["classic"]) == rows(solo)
    dense_env = SE(spark=spark, index=env.index, score_weight=0.8,
                   searchers=[(boe_a, 0.8), (boe_b, 0.5)],
                   aggregation="mean",
                   agg_ids=["classic", "dense", "dense"])
    # expected "dense" group: merge of ONLY the two BOE searchers —
    # verify the top row against the hand-computed mean of their
    # (fill-padded) scores
    top_id, top_score = rows(got["dense"])[0]
    ha = {r["doc_id"]: r["score"]
          for r in boe_a.sparse_hits(spark, "main run data").collect()}
    hb = {r["doc_id"]: r["score"]
          for r in boe_b.sparse_hits(spark, "main run data").collect()}
    fa, fb = boe_a.fill_score(), boe_b.fill_score()
    want = (0.8 * ha.get(top_id, fa) + 0.5 * hb.get(top_id, fb)) / 2
    assert top_score == pytest.approx(round(want, 9), abs=1e-8)

    # filter-only request collapses to the single env entry
    freq = InternalRequest(query='lang:"en"', max_matches=5)
    gf = search_grouped(genv, freq)
    assert set(gf) == {"__env__"}


def test_search_method_regex(spark, env):
    """F7 search_method=regex (dtv.jl:27 dtv_regex): each query token
    is an unanchored regex expanded against the vocabulary; the request
    must rank identically to the exact query listing every matched term
    once.  An all-non-matching pattern hits the is_embedded gate."""
    from garamond_jl_spark.operators.query import embed_queries
    vocab = {r["term"] for r in env.index.terms.collect()}
    import re as _re
    pat = "parse_[0-3]"
    matched = sorted(t for t in vocab if _re.search(pat, t))
    assert len(matched) >= 2, "fixture assumption: parse_0..3 in vocab"

    rreq = InternalRequest(query=pat, max_matches=8, tiebreak_round=9,
                           search_method="regex")
    ereq = InternalRequest(query=" ".join(matched), max_matches=8,
                           tiebreak_round=9)
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           sorted(search(env, rreq).collect(), key=lambda r: r["rank"])]
    want = [(r["doc_id"], round(r["score"], 9)) for r in
            sorted(search(env, ereq).collect(), key=lambda r: r["rank"])]
    assert got == want and got

    # qterms expansion is count-weighted: the same pattern twice doubles
    # the counts, which cancels in the normalized pseudo-doc → same qw
    q1 = {(r["term"],): r["qw"] for r in embed_queries(
        spark, env.index, [pat], isregex=True).collect()}
    q2 = {(r["term"],): r["qw"] for r in embed_queries(
        spark, env.index, [pat + " " + pat], isregex=True).collect()}
    assert set(q1) == set(q2)

    none = InternalRequest(query="zzz_nothing_matches_9x", max_matches=5,
                           search_method="regex")
    assert search(env, none).count() == 0


# ---- utils.describe (utils/show.jl analog) --------------------------------

def test_describe_engine_objects(env, spark):
    from garamond_jl_spark.operators.semantic import (BOESearcher,
                                                      synthetic_word_vectors)
    from garamond_jl_spark.utils import describe

    line = describe(env.index)
    assert line.startswith("InvertedIndex (bm25), 120 indexed documents")

    req = InternalRequest(query="q" * 80, max_matches=7)
    rline = describe(req)
    assert rline.startswith("InternalRequest: OPERATION='search' | ")
    assert "q" * 50 + "..." in rline            # query chopped at 50
    assert "MAX_MATCHES=7" in rline

    from garamond_jl_spark.operators.build import assign_dense_ids
    docs = assign_dense_ids(corpus_df(spark, 120, seed=42, partitions=4),
                            ["repo", "path", "commit"])
    tok = (docs.select("doc_id", F.explode(F.split("content", " "))
                       .alias("term"))
           .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wv = synthetic_word_vectors(tf.select("term"), dim=8, seed=0)
    boe = BOESearcher.from_tokens(tf, wv, score_alpha=CFG.score_alpha)
    assert describe(boe).startswith("BOESearcher (Naive index, ")

    block = describe(SearchEnv(spark=spark, index=env.index,
                               searchers=[(boe, 0.5)]))
    assert "searchers = [" in block
    assert "[0] InvertedIndex (bm25)" in block and "weight=1.0" in block
    assert "[1] BOESearcher" in block and "weight=0.5" in block


def test_search_many_routes_regex_and_custom_weights_to_fallback(env):
    """Batched regex requests ran as plain exact searches before (the
    batch path strips metacharacters and never expands the vocabulary);
    custom_weights likewise only apply in search().  Both now fall back
    to the single-request plan and match search() exactly."""
    from garamond_jl_spark.plans.lifecycle import search_many
    reqs = [
        InternalRequest(query="main run", max_matches=5, tiebreak_round=6),
        InternalRequest(query="dec.*", max_matches=5, tiebreak_round=6,
                        search_method="regex"),
        InternalRequest(query="main run", max_matches=5, tiebreak_round=6,
                        custom_weights={"x": 2.0}),
    ]
    got = search_many(env, reqs).collect()
    by_req = {}
    for r in got:
        by_req.setdefault(r["request_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9)))
    for i, req in enumerate(reqs):
        want = [(r["rank"], r["doc_id"], round(r["score"], 9))
                for r in search(env, req).collect()]
        assert sorted(by_req.get(i, [])) == sorted(want), f"req {i}"
    assert by_req[1]                     # the regex actually matched


def test_response_total_counts_before_pagination(env):
    """n_total_results is the reference's TOTAL match count
    (search.jl:141), not the page length."""
    import json

    from garamond_jl_spark.plans.lifecycle import response_json
    req = InternalRequest(query="main run", max_matches=8,
                          response_size=3, response_page=2)
    resp = json.loads(response_json(env, req))
    assert resp["n_total_results"] == 8
    assert len(resp["results"]) == 3
    assert [r["rank"] for r in resp["results"]] == [4, 5, 6]


def test_recommend_default_fields_excludes_engine_columns(spark):
    """recommend with NO return_fields must not turn the seed's
    engine bookkeeping (doclen equality, ±10% norm interval) into
    filters — that collapsed the candidate set to (nearly) the seed.
    (User attribute filters still apply — a unique-valued attribute
    column legitimately narrows to itself, so this env carries only
    shared attributes.)"""
    from garamond_jl_spark.plans.lifecycle import recommend
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(spark, docs, CFG, id_col="doc_id", text_col="text",
                      carry_cols=["lang", "source"])
    renv = SearchEnv(spark=spark, index=idx)
    req = InternalRequest(query="7", operation="recommend", max_matches=5)
    rows = recommend(renv, req).collect()
    assert len(rows) == 5
    assert all(r["doc_id"] != 7 for r in rows)   # seed excluded


def test_generate_recommend_query_skips_unrepresentable():
    from garamond_jl_spark.plugins import generate_recommend_query
    q = generate_recommend_query(
        {"doc_id": 1, "lang": "en", "doclen": 9, "norm": 2.5,
         "bal": -4.0, "name": "Cust#42", "n": 3}, "doc_id")
    assert q == 'lang:"en" n:3'


def test_regex_prune_branches_rank_identically(spark, env, monkeypatch):
    """The literal-prefix banding (query._regex_literal): pure-literal
    patterns (contains fast path), ^-anchored patterns (startswith band
    + rlike) and open patterns (full rlike) must all expand exactly the
    terms an unanchored regex search matches."""
    import re as _re

    import garamond_jl_spark.operators.query as Q
    assert Q._regex_literal("parse_0") == ("literal", "parse_0")
    assert Q._regex_literal("^parse_[0-3]") == ("prefix", "parse_")
    assert Q._regex_literal("parse_[0-3]") == ("rlike", None)
    assert Q._regex_literal("^[ab]c") == ("rlike", None)

    vocab = {r["term"] for r in env.index.terms.collect()}
    for pat in ("parse_0", "^parse_[0-3]", "pars._[0-3]"):
        want = sorted(t for t in vocab if _re.search(pat, t))
        got = sorted(r["term"] for r in Q.embed_queries(
            spark, env.index, [pat], isregex=True).collect())
        assert got == want, pat
        assert want, pat       # each branch actually matched something

    # driver-OOM guard: an over-broad pattern set errors loudly
    # instead of silently truncating the expansion
    monkeypatch.setattr(Q, "REGEX_COLLECT_CAP", 1)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="too broad"):
        Q.embed_queries(spark, env.index, ["parse_[0-3]"], isregex=True)
