"""P1 embeddable-field projection + sampler hook coverage."""

import pytest
from pyspark.sql import functions as F

from garamond_jl_spark.config import EngineConfig
from garamond_jl_spark.operators.build import build_index, project_embeddable


def test_project_embeddable_concat_and_missing(spark):
    df = spark.createDataFrame(
        [(1, "alpha", 7), (2, None, 9)], "doc_id LONG, a STRING, b LONG")
    out = project_embeddable(df, ["a", "b", "nope"], "content") \
        .select("doc_id", "content").collect()
    got = {r["doc_id"]: r["content"] for r in out}
    # stringify + space-concat; NULL and missing column → empty string
    assert got[1] == "alpha 7"
    assert got[2] == "9"  # concat_ws skips only NULL; coalesce makes ''


def test_build_with_embeddable_fields(spark):
    df = spark.createDataFrame(
        [(0, "spark join", "fast"), (1, "window", "slow batch")],
        "doc_id LONG, title STRING, body STRING")
    idx = build_index(spark, df, EngineConfig(), id_col="doc_id",
                      embeddable_fields=["title", "body"],
                      tokenizer=lambda s: s.split())
    terms = {r["term"] for r in idx.terms.collect()}
    assert {"spark", "join", "fast", "window", "slow", "batch"} <= terms
    doclens = {r["doc_id"]: r["doclen"] for r in
               idx.postings.select("doc_id", "doclen").distinct().collect()}
    assert doclens == {0: 3, 1: 3}


def test_token_pattern_can_keep_punctuation(spark):
    """A custom token_pattern that includes punctuation must see it:
    the old unconditional \\W+ pre-strip silently split 'foo.bar'."""
    from garamond_jl_spark.config import EngineConfig
    from garamond_jl_spark.functions.textprep import tokenize_with_config
    assert tokenize_with_config(
        "foo.bar baz", EngineConfig(token_pattern=r"[a-z0-9_.]+")) == \
        ["foo.bar", "baz"]
    # the default pattern tokenizes punctuated text exactly as before
    assert tokenize_with_config("don't stop_now!", EngineConfig()) == \
        ["don", "t", "stop_now"]


def test_build_index_dense_ids_without_git_schema(spark):
    """id_col=None on a non-code schema orders by the remaining
    columns instead of crashing on the hardcoded git triple."""
    from garamond_jl_spark.config import EngineConfig
    from garamond_jl_spark.operators.build import build_index
    docs = spark.createDataFrame(
        [("u2", "beta beta"), ("u1", "alpha beta")], "url STRING, body STRING")
    idx = build_index(spark, docs, EngineConfig(), id_col=None,
                      text_col="body")
    rows = {r["url"]: r["doc_id"] for r in idx.docs.collect()}
    assert rows == {"u1": 0, "u2": 1}          # ordered by url


def test_assign_dense_ids_empty_input(spark):
    from garamond_jl_spark.operators.build import assign_dense_ids
    empty = spark.createDataFrame([], "repo STRING, path STRING, "
                                      "commit STRING, content STRING")
    out = assign_dense_ids(empty, ["repo", "path", "commit"])
    assert out.count() == 0 and "doc_id" in out.columns


WEIGHT_DOCS = [
    (0, "spark shuffle join window aggregate spark"),
    (1, "broadcast join skew salt"),
    (2, "window window window rank"),
    (3, "tokenize arrow batch spark broadcast"),
    (4, "varbyte delta block max wand"),
    (5, "singleton"),
]


def test_build_index_stores_n_terms_and_unit_norms(spark):
    docs = spark.createDataFrame(WEIGHT_DOCS, "doc_id LONG, content STRING")
    idx = build_index(spark, docs, EngineConfig(),
                      tokenizer=lambda s: s.split())
    assert idx.meta["n_terms"] == idx.terms.count()
    # wnorm is L2-normalized per doc: Σ wnorm² = 1 for every doc
    sums = (idx.postings.groupBy("doc_id")
            .agg(F.sum(F.col("wnorm") * F.col("wnorm")).alias("s"))
            .collect())
    assert len(sums) == len(WEIGHT_DOCS)
    for r in sums:
        assert r["s"] == pytest.approx(1.0, abs=1e-9)


def test_idf_broadcast_and_sort_merge_weighting_match(spark, monkeypatch):
    """Both idf deliveries of weighted_postings — the broadcast hash
    join a fitting dictionary takes and the sort-merge join above
    BROADCAST_IDF_MAX_VOCAB — give the same (term, doc_id) → (w, norm,
    wnorm) map."""
    import garamond_jl_spark.operators.build as B
    cfg = EngineConfig()
    docs = spark.createDataFrame(WEIGHT_DOCS, "doc_id LONG, content STRING") \
        .repartition(3)
    postings = B.tokenize_to_postings(docs, cfg,
                                      tokenizer=lambda s: s.split()).persist()
    n_docs = len(WEIGHT_DOCS)
    avgdl = postings.agg(F.sum("tf")).collect()[0][0] / n_docs
    terms = B.term_stats(postings, n_docs, cfg).persist()
    n_terms = terms.count()

    def weighted():
        df = B.weighted_postings(postings, terms, avgdl, cfg, n_terms)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan, {(r["term"], r["doc_id"]): (r["w"], r["norm"],
                                                 r["wnorm"])
                      for r in df.collect()}

    # no automatic broadcast: the sort-merge arm must really sort-merge
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_b, bcast = weighted()
        monkeypatch.setattr(B, "BROADCAST_IDF_MAX_VOCAB", 0)
        plan_s, merged = weighted()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        terms.unpersist()
        postings.unpersist()
    assert "BroadcastHashJoin" in plan_b and "SortMergeJoin" not in plan_b
    assert "SortMergeJoin" in plan_s and "BroadcastHashJoin" not in plan_s
    assert bcast.keys() == merged.keys() and len(bcast) > len(WEIGHT_DOCS)
    for key, vb in bcast.items():
        for x, y in zip(vb, merged[key]):
            assert x == pytest.approx(y, abs=1e-12), (key, vb, merged[key])
