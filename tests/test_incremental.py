"""Incremental maintenance: frozen-stats append, tombstone delete,
compaction equivalence, Structured Streaming ingestion (SURVEY.md §2.9)."""

import os

import pytest
from pyspark.sql import functions as F

from garamond_jl_spark.config import EngineConfig
from garamond_jl_spark.corpus import CORPUS_SCHEMA, corpus_df
from garamond_jl_spark.operators.build import assign_dense_ids
from garamond_jl_spark.operators.persist import build_persistent
from garamond_jl_spark.operators.query import search
from garamond_jl_spark.streaming.incremental import (append_docs, compact,
                                                     delete_docs,
                                                     load_live_index,
                                                     stream_append)

CFG = EngineConfig()


@pytest.fixture()
def built(spark, tmp_path):
    out = str(tmp_path / "idx")
    docs = assign_dense_ids(corpus_df(spark, 80, seed=42, partitions=2),
                            ["repo", "path", "commit"])
    build_persistent(spark, docs, CFG, out, n_buckets=2)
    return out


def _new_batch(spark, start_id, text):
    rows = [(f"org/new", f"src/new/f{start_id}.py", f"c{start_id}", "python",
             text, "x" * 64)]
    df = spark.createDataFrame(rows, CORPUS_SCHEMA)
    return df.withColumn("doc_id", F.lit(start_id).cast("long"))


def test_append_then_searchable(spark, built):
    new = _new_batch(spark, 10_000, "main main main run data")
    n = append_docs(spark, built, new)
    assert n > 0
    live = load_live_index(spark, built)
    hits = search(spark, live, ["main run"], k=5, hydrate=False,
                  pad_to_k=False).collect()
    assert 10_000 in {r["doc_id"] for r in hits}  # heavy-main doc ranks


def test_append_oov_terms_dropped(spark, built):
    new = _new_batch(spark, 10_001, "zzz_never_seen qqq_unknown")
    n = append_docs(spark, built, new)
    assert n == 0  # frozen vocabulary drops OOV-only content
    live = load_live_index(spark, built)
    assert search(spark, live, ["zzz_never_seen"], k=5, hydrate=False,
                  pad_to_k=False).count() == 0


def test_delete_tombstones(spark, built):
    live = load_live_index(spark, built)
    victim = search(spark, live, ["get"], k=1, hydrate=False,
                    pad_to_k=False).collect()[0]["doc_id"]
    delete_docs(spark, built, [victim])
    live2 = load_live_index(spark, built)
    got = {r["doc_id"] for r in search(spark, live2, ["get"], k=10,
                                       hydrate=False, pad_to_k=False).collect()}
    assert victim not in got
    assert live2.docs.where(F.col("doc_id") == victim).count() == 0


def test_compact_preserves_results(spark, built):
    append_docs(spark, built, _new_batch(spark, 10_002, "main run value"))
    delete_docs(spark, built, [0, 1])
    live = load_live_index(spark, built)

    def snap(idx):
        return sorted((r["doc_id"], round(r["score"], 9), r["rank"])
                      for r in search(spark, idx, ["main run"], k=20,
                                      hydrate=False, pad_to_k=False).collect())

    before = snap(live)
    compact(spark, built)
    after_idx = load_live_index(spark, built)
    after = snap(after_idx)
    assert before == after
    # deltas folded in: no delta dirs remain
    assert not os.path.exists(os.path.join(built, "delta"))


def test_stream_append(spark, built, tmp_path):
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    batch = _new_batch(spark, 20_000, "filter value table scan") \
        .select("repo", "path", "commit", "lang", "content",
                "content_sha256", "doc_id")
    batch.write.parquet(os.path.join(src, "b1"), mode="overwrite")
    # file-source streaming needs a flat dir of files; point at subdir
    schema = ("repo STRING, path STRING, commit STRING, lang STRING, "
              "content STRING, content_sha256 STRING, doc_id LONG")
    stream_append(spark, built, os.path.join(src, "b1"), schema)
    live = load_live_index(spark, built)
    assert live.docs.where(F.col("doc_id") == 20_000).count() == 1
    got = search(spark, live, ["filter value"], k=10, hydrate=False,
                 pad_to_k=False).collect()
    assert 20_000 in {r["doc_id"] for r in got}


def test_append_doclen_in_vocab(spark, built):
    """Pushed-doc BM25 length normalization uses the IN-VOCAB token
    count (dtv.jl:29-41 pseudo-document convention), not the raw count:
    OOV tokens must not change the stored doclen."""
    clean = _new_batch(spark, 10_010, "main run data")
    noisy = _new_batch(spark, 10_011, "main run data zzz_oov qqq_oov www_oov")
    append_docs(spark, built, clean)
    append_docs(spark, built, noisy)
    live = load_live_index(spark, built)
    rows = {r["doc_id"]: r for r in
            live.docs.where(F.col("doc_id").isin([10_010, 10_011])).collect()}
    assert rows[10_010]["doclen"] == rows[10_011]["doclen"] == 3
    # identical in-vocab content ⇒ identical postings weights
    p = {r["doc_id"]: round(r["wnorm"], 9) for r in
         live.postings.where((F.col("doc_id").isin([10_010, 10_011]))
                             & (F.col("term") == "main")).collect()}
    assert p[10_010] == p[10_011]


def test_reindex_recompute_stats(spark, tmp_path):
    """compact(recompute_stats=True): full rebuild with fresh stats ==
    a from-scratch build over the merged corpus (env_operations.jl:9-71
    'reindex *')."""
    out = str(tmp_path / "idx_rc")
    docs = assign_dense_ids(corpus_df(spark, 60, seed=3, partitions=2),
                            ["repo", "path", "commit"])
    build_persistent(spark, docs, CFG, out, n_buckets=2, retain_content=True)
    new = _new_batch(spark, 5_000, "main freshterm_x freshterm_x run")
    append_docs(spark, built_dir := out, new)
    # frozen model: the new term is OOV pre-reindex
    live = load_live_index(spark, built_dir)
    assert search(spark, live, ["freshterm_x"], k=5, hydrate=False,
                  pad_to_k=False).count() == 0
    compact(spark, built_dir, recompute_stats=True, n_buckets=2)
    re_idx = load_live_index(spark, built_dir)
    # new term is now in the dictionary and searchable
    got = search(spark, re_idx, ["freshterm_x"], k=5, hydrate=False,
                 pad_to_k=False).collect()
    assert 5_000 in {r["doc_id"] for r in got}
    # stats equal a fresh build over the union corpus
    from garamond_jl_spark.operators.build import build_index
    union_docs = docs.unionByName(new.select(docs.columns))
    fresh = build_index(spark, union_docs, CFG)
    assert re_idx.meta["n_docs"] == fresh.meta["n_docs"]
    assert abs(re_idx.meta["avgdl"] - fresh.meta["avgdl"]) < 1e-9
    re_terms = {(r["term"], r["df"]) for r in re_idx.terms
                .select("term", "df").collect()}
    fr_terms = {(r["term"], r["df"]) for r in fresh.terms
                .select("term", "df").collect()}
    assert re_terms == fr_terms


def test_compact_preserves_stream_checkpoint(spark, built, tmp_path):
    src = str(tmp_path / "incoming2")
    os.makedirs(src)
    batch = _new_batch(spark, 30_000, "main value rows") \
        .select("repo", "path", "commit", "lang", "content",
                "content_sha256", "doc_id")
    batch.write.parquet(os.path.join(src, "b1"), mode="overwrite")
    schema = ("repo STRING, path STRING, commit STRING, lang STRING, "
              "content STRING, content_sha256 STRING, doc_id LONG")
    stream_append(spark, built, os.path.join(src, "b1"), schema)
    assert os.path.exists(os.path.join(built, "_stream_checkpoint"))
    compact(spark, built)
    # checkpoint survived the snapshot swap…
    assert os.path.exists(os.path.join(built, "_stream_checkpoint"))
    # …so re-running the drained stream appends NOTHING (no replay)
    stream_append(spark, built, os.path.join(src, "b1"), schema)
    live = load_live_index(spark, built)
    assert live.docs.where(F.col("doc_id") == 30_000).count() == 1
    assert live.postings.where(F.col("doc_id") == 30_000).count() == \
        live.postings.where(F.col("doc_id") == 30_000)\
        .select("term").distinct().count()


# ---- pushfirst!/popfirst! positional semantics (db.jl:116-151) ----------

def _prepos():
    from garamond_jl_spark.streaming.incremental import (pop_docs,
                                                         popfirst_docs,
                                                         positional_docs,
                                                         prepend_docs)
    return prepend_docs, positional_docs, popfirst_docs, pop_docs


def test_pushfirst_renumbers_lazily(spark, built):
    prepend_docs, positional_docs, _, _ = _prepos()
    prepend_docs(spark, built, _new_batch(spark, 20_000, "main run data"))
    prepend_docs(spark, built, _new_batch(spark, 20_001, "main value"))
    view = positional_docs(spark, built)
    head = [r["doc_id"] for r in view.orderBy("pos_id").limit(2).collect()]
    assert head == [20_001, 20_000]     # newest pushfirst! is position 1
    rows = view.collect()
    assert sorted(r["pos_id"] for r in rows) == \
        list(range(1, len(rows) + 1))   # ids recreated 1..N (db.jl:147-151)
    # the prepended doc went through the same frozen-stats index path
    live = load_live_index(spark, built)
    hits = search(spark, live, ["main run"], k=5, hydrate=False,
                  pad_to_k=False).collect()
    assert 20_000 in {r["doc_id"] for r in hits}


def test_popfirst_and_pop_return_popped_entry(spark, built):
    prepend_docs, positional_docs, popfirst_docs, pop_docs = _prepos()
    prepend_docs(spark, built, _new_batch(spark, 20_010, "main data"))
    append_docs(spark, built, _new_batch(spark, 20_011, "main value"))
    popped = popfirst_docs(spark, built)
    assert popped["doc_id"] == 20_010   # front = newest prepend
    popped_last = pop_docs(spark, built)
    assert popped_last["doc_id"] == 20_011  # back = newest append
    view = positional_docs(spark, built)
    ids = {r["doc_id"] for r in view.collect()}
    assert 20_010 not in ids and 20_011 not in ids
    assert view.agg(F.min("pos_id"), F.max("pos_id")).first() == \
        (1, view.count())               # renumbered after both pops


def test_positions_survive_compaction(spark, built):
    prepend_docs, positional_docs, _, _ = _prepos()
    prepend_docs(spark, built, _new_batch(spark, 20_020, "main run"))
    compact(spark, built)
    view = positional_docs(spark, built)
    assert view.orderBy("pos_id").first()["doc_id"] == 20_020
    # a post-compaction pushfirst! still lands at position 1
    prepend_docs(spark, built, _new_batch(spark, 20_021, "main data"))
    head = [r["doc_id"] for r in positional_docs(spark, built)
            .orderBy("pos_id").limit(2).collect()]
    assert head == [20_021, 20_020]
    # and the query path never sees the bookkeeping columns
    live = load_live_index(spark, built)
    assert "_pos" not in live.docs.columns
    assert "_seq" not in live.docs.columns


def test_repush_after_delete_resurrects(spark, built):
    """delete then push the same doc_id: the re-pushed doc is live (the
    tombstone kills only the OLDER copies), and compaction keeps it."""
    new = _new_batch(spark, 10_010, "main main run data")
    assert append_docs(spark, built, new) > 0
    delete_docs(spark, built, [10_010])
    live = load_live_index(spark, built)
    assert 10_010 not in {r["doc_id"] for r in live.docs.select(
        "doc_id").collect()}
    # re-push the SAME id with new content
    assert append_docs(spark, built,
                       _new_batch(spark, 10_010, "decode_7 free_4")) > 0
    live = load_live_index(spark, built)
    docs = {r["doc_id"] for r in live.docs.select("doc_id").collect()}
    assert 10_010 in docs
    hits = search(spark, live, ["decode_7"], k=5, hydrate=False,
                  pad_to_k=False).collect()
    assert 10_010 in {r["doc_id"] for r in hits}
    # exactly ONE live copy (the old postings stay dead)
    assert live.docs.where(F.col("doc_id") == 10_010).count() == 1
    compact(spark, built)
    after = load_live_index(spark, built)
    assert after.docs.where(F.col("doc_id") == 10_010).count() == 1
    hits = search(spark, after, ["decode_7"], k=5, hydrate=False,
                  pad_to_k=False).collect()
    assert 10_010 in {r["doc_id"] for r in hits}


def test_append_dedupe_tag_is_idempotent(spark, built):
    """A replayed batch (same dedupe_tag) is a no-op — the foreachBatch
    crash-replay path cannot double-append."""
    new = _new_batch(spark, 10_020, "main run")
    assert append_docs(spark, built, new, dedupe_tag="sb000000000007") > 0
    assert append_docs(spark, built, new, dedupe_tag="sb000000000007") == 0
    live = load_live_index(spark, built)
    assert live.docs.where(F.col("doc_id") == 10_020).count() == 1


def test_n_live_docs_reflects_deletes(spark, built):
    live = load_live_index(spark, built)
    n0 = live.meta["n_live_docs"]
    assert n0 == live.meta["n_docs"]
    delete_docs(spark, built, [0, 1, 2])
    live = load_live_index(spark, built)
    assert live.meta["n_live_docs"] == n0 - 3


def test_compact_fold_rebuilds_champions(spark, built):
    from garamond_jl_spark.operators.persist import load_index
    append_docs(spark, built, _new_batch(spark, 10_030, "main main run"))
    # live view drops the stale champion prefixes entirely
    assert load_live_index(spark, built).champions is None
    compact(spark, built)
    idx = load_index(spark, built)
    assert idx.champions is not None
    champ_docs = {r["doc_id"] for r in
                  idx.champions.where(F.col("term") == "main")
                  .select("doc_id").collect()}
    assert 10_030 in champ_docs          # pushed doc made the prefix


def test_tokenizer_identity_enforced(spark, tmp_path):
    from garamond_jl_spark.operators.persist import load_index

    def tok_a(s):
        return s.split()

    def tok_b(s):
        return s.split()

    out = str(tmp_path / "idx_tok")
    docs = assign_dense_ids(corpus_df(spark, 30, seed=1, partitions=2),
                            ["repo", "path", "commit"])
    build_persistent(spark, docs, CFG, out, n_buckets=2, tokenizer=tok_a)
    with pytest.raises(ValueError, match="tok_a"):
        load_index(spark, out)                      # forgot it
    with pytest.raises(ValueError, match="tok_b"):
        load_index(spark, out, tokenizer=tok_b)     # wrong one
    load_index(spark, out, tokenizer=tok_a)         # right one opens

    out2 = str(tmp_path / "idx_plain")
    build_persistent(spark, docs, CFG, out2, n_buckets=2)
    with pytest.raises(ValueError, match="default tokenizer"):
        load_index(spark, out2, tokenizer=tok_a)    # spurious tokenizer


def test_live_view_plan_guards(spark, built):
    """The impact certificate's frozen df is stale on a live view: the
    impact plan stays rank-identical to exact because its certificate
    reads df from the LIVE postings (the frozen df undercounts an
    appended-to term, which would certify a truncated champion list)."""
    from garamond_jl_spark.operators.impact import impact_topk
    from garamond_jl_spark.operators.query import topk_plan, embed_queries

    # push many docs whose only in-vocab term is 'main', so that term's
    # live posting count outgrows a tiny champion prefix p
    rows = [(f"org/new", f"src/bulk/f{i}.py", f"c{i}", "python",
             "main " * (1 + i % 3), "x" * 64) for i in range(40)]
    from pyspark.sql import functions as F2
    bulk = (spark.createDataFrame(rows, CORPUS_SCHEMA)
            .withColumn("doc_id",
                        (F2.lit(20_000)
                         + F2.monotonically_increasing_id()).cast("long")))
    assert append_docs(spark, built, bulk) > 0
    live = load_live_index(spark, built)
    assert live.meta.get("live_deltas") and live.champions is None

    got = impact_topk(spark, live, ["main run"], k=5, p=8,
                      tiebreak_round=6, pad_to_k=False).collect()
    qt = embed_queries(spark, live, ["main run"])
    want = topk_plan(live, qt, 5, 6, False).collect()
    assert [(r["doc_id"], r["rank"]) for r in
            sorted(got, key=lambda r: r["rank"])] == \
        [(r["doc_id"], r["rank"]) for r in
         sorted(want, key=lambda r: r["rank"])]
