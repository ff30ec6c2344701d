"""Warm serving posture (operators/resident.py): result identity with
the lazy posture, the zero-pre-scoring-jobs property, and the guard
rails.  The latency claim itself is bench/warm_serving.py (BENCH.md)."""

import re
import time

import pytest
from pyspark.sql import functions as F

from garamond_jl_spark.config import EngineConfig
from garamond_jl_spark.corpus import corpus_df, query_set
from garamond_jl_spark.operators.build import assign_dense_ids, build_index
from garamond_jl_spark.operators.persist import build_persistent, load_index
from garamond_jl_spark.operators.query import embed_queries, pruned_postings, search
from garamond_jl_spark.operators.resident import make_resident, release_resident

CFG = EngineConfig()
N = 200


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("res_index"))


@pytest.fixture(scope="module")
def built(spark, out_dir):
    docs = corpus_df(spark, N, seed=7, partitions=4)
    docs = assign_dense_ids(docs, ["repo", "path", "commit"])
    build_persistent(spark, docs, CFG, out_dir, n_buckets=4)
    return out_dir


def _rows(df):
    return sorted((r["query_id"], r["doc_id"], round(r["score"], 12),
                   r["rank"]) for r in df.collect())


QUERIES = query_set(8) + ["zzzz_out_of_vocab"]


def test_resident_matches_lazy(spark, built):
    lazy = load_index(spark, built)
    warm = load_index(spark, built, resident=True)
    try:
        a = _rows(search(spark, lazy, QUERIES, k=5, hydrate=False))
        b = _rows(search(spark, warm, QUERIES, k=5, hydrate=False))
        assert a == b and len(b) > 0
    finally:
        release_resident(warm)


@pytest.fixture(scope="module")
def built_tb(spark, tmp_path_factory):
    """The serving layout: postings partitioned by term bucket, so
    ``pruned_postings`` runs its resident bucket lookup."""
    out = str(tmp_path_factory.mktemp("res_index_tb"))
    docs = corpus_df(spark, N, seed=7, partitions=4)
    docs = assign_dense_ids(docs, ["repo", "path", "commit"])
    build_persistent(spark, docs, CFG, out, n_buckets=4, term_buckets=4)
    return out


def test_resident_zero_jobs_before_scoring(spark, built, built_tb):
    """Query embedding + postings pruning must launch NO Spark job in
    the warm posture — the whole point of the resident stats.  The
    term-bucketed layout also collects the query terms for the bucket
    lookup, which is job-free only because the query-term frame is a
    LocalRelation (session.local_frame)."""
    sc = spark.sparkContext
    for layout, out in (("flat", built), ("term_buckets", built_tb)):
        warm = load_index(spark, out, resident=True)
        group = f"resident-probe-{layout}"
        try:
            sc.setJobGroup(group, "embed+prune must be local")
            try:
                qterms = embed_queries(spark, warm, query_set(4))
                pruned = pruned_postings(warm, qterms)  # plan only
            finally:
                sc.setJobGroup(group + "-done", "")
            assert list(sc.statusTracker().getJobIdsForGroup(group)) \
                == [], layout
            # the bucketed layout really took the pruning branch
            assert (pruned is not warm.postings) == (layout
                                                     == "term_buckets")
        finally:
            release_resident(warm)


def test_resident_lazy_embed_does_launch_a_job(spark, built):
    """Control for the probe above: the lazy posture's stats fetch IS a
    Spark job, so the group-id mechanism is actually measuring."""
    lazy = load_index(spark, built)
    sc = spark.sparkContext
    sc.setJobGroup("lazy-probe", "lazy stats fetch")
    try:
        embed_queries(spark, lazy, query_set(4))
    finally:
        sc.setJobGroup("lazy-probe-done", "")
    assert len(list(sc.statusTracker().getJobIdsForGroup(
        "lazy-probe"))) >= 1


def _final_plan(df) -> str:
    """The executed physical plan of a collected frame (AQE's final
    plan when adaptive execution ran it)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


def test_single_request_scans_postings_once(spark, built_tb):
    """The dense-knn pad rides the score aggregation as zero-weight
    rows: a single-query request has no anti-join and aggregates
    (query_id, doc_id) once in both postures, and the resident one
    reads the cached postings once."""
    for resident in (True, False):
        idx = load_index(spark, built_tb, resident=resident)
        try:
            df = search(spark, idx, ["main run"], k=5, hydrate=False)
            assert len(df.collect()) == 5
            plan = _final_plan(df)
            assert "LeftAnti" not in plan, resident
            if resident:
                # the postings relation is the cached table led by `term`
                assert len(re.findall(r"InMemoryRelation \[term#",
                                      plan)) == 1
            assert len(re.findall(
                r"HashAggregate\(keys=\[query_id#\d+L?, doc_id#\d+L?\], "
                r"functions=\[(?!partial_)", plan)) == 1, resident
        finally:
            release_resident(idx)


def test_resident_large_vector_oov_identity(spark):
    """The :large_vector OOV pad path uses the driver-held low-id
    prefixes; scores must stay bit-identical to the lazy plan."""
    cfg = EngineConfig(oov_policy="large_vector")
    docs = corpus_df(spark, 80, seed=11, partitions=2)
    docs = assign_dense_ids(docs, ["repo", "path", "commit"])
    # blank out a few docs so all-OOV (doclen=0) rows exist
    docs = docs.withColumn(
        "content", F.when(F.col("doc_id") < 5, F.lit("")).otherwise(
            F.col("content")))
    idx = build_index(spark, docs, cfg)
    qs = query_set(5)
    before = _rows(search(spark, idx, qs, k=8, hydrate=False))
    make_resident(spark, idx, pad_k=64)
    try:
        after = _rows(search(spark, idx, qs, k=8, hydrate=False))
        assert before == after
        # the all-OOV docs really pad (policy active, not vacuous)
        assert any(d < 5 for _, d, _, _ in after)
    finally:
        release_resident(idx)


def test_resident_pad_k_overflow_falls_back(spark, built):
    """k above the resident pad prefix must fall back to the lazy docs
    scan, never truncate the pad."""
    lazy = load_index(spark, built)
    warm = load_index(spark, built, resident=True)
    try:
        warm.resident.pad_k = 3     # force the overflow branch
        a = _rows(search(spark, lazy, query_set(3), k=5, hydrate=False))
        b = _rows(search(spark, warm, query_set(3), k=5, hydrate=False))
        assert a == b
    finally:
        release_resident(warm)


def test_resident_refuses_live_views(spark, built):
    idx = load_index(spark, built)
    idx.meta["live_deltas"] = True
    with pytest.raises(ValueError, match="live view"):
        make_resident(spark, idx)


def test_make_resident_idempotent_and_released(spark, built):
    warm = load_index(spark, built, resident=True)
    stats = warm.resident
    assert make_resident(spark, warm).resident is stats
    release_resident(warm)
    assert warm.resident is None
    # released index still answers (lazy posture)
    assert len(_rows(search(spark, warm, query_set(2), k=3,
                            hydrate=False))) > 0


def test_embed_queries_row_estimate(spark, built):
    """embed_queries' stats_out carries the exact score-join input size
    (sum of df over the batch's (query, in-vocab term) rows) — the
    observability hook left after the round-5 repartition experiment
    (sizing itself is AQE initialPartitionNum, session.py)."""
    import garamond_jl_spark.operators.query as Q
    from pyspark.sql import functions as F
    lazy = load_index(spark, built)
    qs = query_set(9)
    est: dict = {}
    qt = Q.embed_queries(spark, lazy, qs, stats_out=est)
    got = est["expected_hit_rows"]
    # independent recount: join the embedded terms with the terms table
    want = (qt.select("query_id", "term")
            .join(lazy.terms.select("term", "df"), "term")
            .agg(F.sum("df")).first()[0])
    assert got == int(want) > 0


def test_env_resident_mixed_identity(spark, built):
    """make_env_resident over a mixed classic+BOE env: results
    identical to the lazy env, dense frames persisted, classic index
    resident, and a request embeds with zero pre-scoring jobs."""
    from garamond_jl_spark.operators.resident import (make_env_resident,
                                                      release_env_resident)
    from garamond_jl_spark.operators.semantic import (
        BOESearcher, synthetic_word_vectors)
    from garamond_jl_spark.plans.lifecycle import InternalRequest, SearchEnv
    from garamond_jl_spark.plans.lifecycle import search as lsearch

    def mk_env():
        idx = load_index(spark, built)
        tok = (idx.postings.select("doc_id", "term", "tf"))
        wv = synthetic_word_vectors(tok.select("term"), dim=8, seed=3)
        boe = BOESearcher.from_tokens(tok, wv, score_alpha=0.4)
        return SearchEnv(spark=spark, index=idx,
                         searchers=[(boe, 1.0)])

    req = InternalRequest(query="main run", max_matches=6,
                          tiebreak_round=9)
    want = [(r["doc_id"], round(r["score"], 9), r["rank"])
            for r in sorted(lsearch(mk_env(), req).collect(),
                            key=lambda r: r["rank"])]
    env = make_env_resident(mk_env())
    try:
        assert env.index.resident is not None
        boe = env.searchers[0][0]
        assert boe.doc_embeddings.storageLevel.useMemory
        assert boe.word_vectors.storageLevel.useMemory
        assert boe._norms is not None \
            and boe._norms.storageLevel.useMemory
        got = [(r["doc_id"], round(r["score"], 9), r["rank"])
               for r in sorted(lsearch(env, req).collect(),
                               key=lambda r: r["rank"])]
        assert got == want and got
    finally:
        release_env_resident(env)
        assert env.index.resident is None


def test_env_resident_repeat_call_releases_everything(spark, built):
    """A second make_env_resident finds the frames already persisted;
    it must extend, not overwrite, the first call's ownership record so
    release_env_resident frees every cache the first call created."""
    from garamond_jl_spark.operators.resident import (make_env_resident,
                                                      release_env_resident)
    from garamond_jl_spark.operators.semantic import (
        BOESearcher, synthetic_word_vectors)
    from garamond_jl_spark.plans.lifecycle import SearchEnv

    store = spark.sparkContext._jsc.sc().statusStore()

    def cached_rdds() -> set[int]:
        rl = store.rddList(True)
        return {int(rl.apply(i).id()) for i in range(rl.size())}

    idx = load_index(spark, built)
    tok = idx.postings.select("doc_id", "term", "tf")
    wv = synthetic_word_vectors(tok.select("term"), dim=8, seed=3)
    boe = BOESearcher.from_tokens(tok, wv, score_alpha=0.4)
    env = SearchEnv(spark=spark, index=idx, searchers=[(boe, 1.0)])
    baseline = cached_rdds()
    make_env_resident(env)
    assert cached_rdds() - baseline
    make_env_resident(env)
    release_env_resident(env)
    deadline = time.time() + 30       # unpersist is asynchronous
    while cached_rdds() - baseline and time.time() < deadline:
        time.sleep(0.5)
    assert not cached_rdds() - baseline
