"""Persistent build: checkpoint/resume/lineage, load and meta
round-trips, legacy index directories (BASELINE.md 'checkpoint
resume')."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from garamond_jl_spark.config import EngineConfig
from garamond_jl_spark.corpus import corpus_df, query_set
from garamond_jl_spark.operators.persist import (build_persistent, lineage,
                                                 load_index)
from garamond_jl_spark.operators.query import search

CFG = EngineConfig()
N = 200


@pytest.fixture(scope="module")
def out_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("index"))


@pytest.fixture(scope="module")
def pindex(spark, out_dir):
    docs = corpus_df(spark, N, seed=42, partitions=4)
    from garamond_jl_spark.operators.build import assign_dense_ids
    docs = assign_dense_ids(docs, ["repo", "path", "commit"])
    return build_persistent(spark, docs, CFG, out_dir, n_buckets=4), docs


def _postings_snapshot(spark, out_dir):
    return sorted(
        tuple(r) for r in
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .select("term", "doc_id", "tf").collect())


def test_lineage_metrics(spark, pindex, out_dir):
    idx, docs = pindex
    lin = lineage(spark, out_dir).collect()
    assert len(lin) == 4                       # one row per bucket
    assert sum(r["docs_tokenized"] for r in lin) == N
    assert all(r["postings_emitted"] > 0 for r in lin)
    assert sum(r["postings_emitted"] for r in lin) == idx.postings.count()


def test_resume_skips_done_and_is_identical(spark, pindex, out_dir, tmp_path):
    """Kill-and-resume protocol: build buckets 0-1, 'crash', resume —
    completed buckets are skipped (lineage count unchanged for them) and
    the final index is identical to the uninterrupted one."""
    idx, docs = pindex
    want = _postings_snapshot(spark, out_dir)

    out2 = str(tmp_path / "index2")
    # simulate a partial run: build with 4 buckets but remove lineage for
    # buckets 2,3 and their raw output — as if killed mid-stage-1
    build_persistent(spark, docs, CFG, out2, n_buckets=4)
    for b in (2, 3):
        shutil.rmtree(os.path.join(out2, "postings_raw", f"bucket={b}"))
    lin = spark.read.parquet(os.path.join(out2, "lineage")) \
        .where(F.col("bucket").isin(0, 1))
    lin_path = os.path.join(out2, "lineage2")
    lin.write.parquet(lin_path)
    shutil.rmtree(os.path.join(out2, "lineage"))
    os.rename(lin_path, os.path.join(out2, "lineage"))
    # downstream stages are stale too — remove so resume recomputes
    for stage in ("terms", "postings", "docs"):
        shutil.rmtree(os.path.join(out2, stage))

    before = {r["bucket"]: r["finished_at"]
              for r in spark.read.parquet(os.path.join(out2, "lineage")).collect()}
    build_persistent(spark, docs, CFG, out2, n_buckets=4, resume=True)
    after = {r["bucket"]: r["finished_at"]
             for r in spark.read.parquet(os.path.join(out2, "lineage")).collect()}
    assert after[0] == before[0] and after[1] == before[1]  # skipped
    assert set(after) == {0, 1, 2, 3}
    assert _postings_snapshot(spark, out2) == want  # identical final index


def test_load_index_roundtrip(spark, pindex, out_dir):
    idx, _ = pindex
    loaded = load_index(spark, out_dir)
    assert loaded.meta["n_docs"] == idx.meta["n_docs"]
    assert abs(loaded.meta["avgdl"] - idx.meta["avgdl"]) < 1e-9


def test_meta_roundtrips_full_config(spark, tmp_path):
    """meta.json must round-trip EVERY EngineConfig field the query path
    reads (CLAUDE.md pinned rule): an index built with non-default
    tokenization must tokenize queries identically after load_index."""
    from garamond_jl_spark.operators.persist import read_meta
    out = str(tmp_path / "idx_cfg")
    # hyphenated tokens survive only under this custom pattern
    cfg = EngineConfig(lowercase=True, strip_accents=False,
                       token_pattern=r"[a-z0-9_\-]+",
                       ngram_complexity=2, oov_policy="large_vector")
    docs = corpus_df(spark, 40, seed=9, partitions=2).withColumn(
        "content", F.concat(F.col("content"), F.lit(" spe-cial spe-cial")))
    from garamond_jl_spark.operators.build import assign_dense_ids
    docs = assign_dense_ids(docs, ["repo", "path", "commit"])
    build_persistent(spark, docs, cfg, out, n_buckets=2)
    m, cfg_back = read_meta(out)
    assert cfg_back == cfg  # every field, not a cherry-pick
    idx = load_index(spark, out)
    hits = search(spark, idx, ["spe-cial"], k=5, hydrate=False,
                  pad_to_k=False)
    assert hits.count() > 0  # query tokenized like the build


def test_legacy_index_with_block_tables_opens(spark, tmp_path):
    """An index written by an engine that still packed WAND blocks
    carries block_size/min_block_df/max_matches in meta.json (top level
    and under cfg) and blocks/ + term_max/ directories.  It must open
    through load_index and load_live_index with the same answers, the
    leftover tables must never be read (the stub term_max/ holds one
    foreign term: joining it into the vocabulary would empty every
    result), and compaction must not carry them forward."""
    from garamond_jl_spark.operators.build import assign_dense_ids
    from garamond_jl_spark.operators.persist import read_meta
    from garamond_jl_spark.session import local_frame
    from garamond_jl_spark.streaming.incremental import (compact,
                                                         load_live_index)
    out = str(tmp_path / "idx_legacy")
    docs = assign_dense_ids(corpus_df(spark, 60, seed=5, partitions=2),
                            ["repo", "path", "commit"])
    build_persistent(spark, docs, CFG, out, n_buckets=2)
    queries = ["main run", "get set data"]

    def answers(idx):
        return sorted((r["query_id"], r["doc_id"], round(r["score"], 9),
                       r["rank"])
                      for r in search(spark, idx, queries, k=8,
                                      hydrate=False).collect())

    want = answers(load_index(spark, out))
    assert want and want == answers(load_live_index(spark, out))

    meta_path = os.path.join(out, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    legacy = {"block_size": 64, "min_block_df": 1, "max_matches": 1000}
    meta.update(legacy)
    meta["cfg"].update(legacy)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    local_frame(spark, [("get", 0, 0.5)],
                "term STRING, min_doc_id BIGINT, block_max_wnorm DOUBLE") \
        .write.parquet(os.path.join(out, "blocks"))
    local_frame(spark, [("zzz_legacy_stub", 0.5)],
                "term STRING, term_max_wnorm DOUBLE") \
        .write.parquet(os.path.join(out, "term_max"))

    assert answers(load_index(spark, out)) == want
    assert answers(load_live_index(spark, out)) == want
    compact(spark, out)
    assert not {"blocks", "term_max"} & set(os.listdir(out))
    assert answers(load_live_index(spark, out)) == want
    # pre-round-2 meta: scalar scoring keys only, next to the block keys
    del meta["cfg"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    assert read_meta(out)[1] == CFG


def test_custom_tokenizer_guard(spark, tmp_path):
    """An index built with a custom tokenizer refuses to open without
    one (silent tokenizer mismatch = wrong/empty results)."""
    out = str(tmp_path / "idx_tok")

    def shouty_tokenizer(s):
        return [t.lower() for t in (s or "").split()]

    from garamond_jl_spark.operators.build import assign_dense_ids
    docs = assign_dense_ids(corpus_df(spark, 30, seed=11, partitions=2),
                            ["repo", "path", "commit"])
    build_persistent(spark, docs, CFG, out, n_buckets=2,
                     tokenizer=shouty_tokenizer)
    with pytest.raises(ValueError, match="tokenizer"):
        load_index(spark, out)
    idx = load_index(spark, out, tokenizer=shouty_tokenizer)
    assert search(spark, idx, ["main run"], k=3, hydrate=False,
                  pad_to_k=False).count() > 0


def test_persisted_champions_serve_impact_plan(spark, pindex, out_dir):
    """build_persistent stores impact-ordered champion prefixes;
    load_index attaches them and impact_topk answers through the STORED
    table (no recompute) rank-identically to the exact plan."""
    from pyspark.sql import functions as F

    from garamond_jl_spark.operators.impact import impact_topk
    from garamond_jl_spark.operators.persist import load_index
    from garamond_jl_spark.operators.query import embed_queries, topk_plan

    idx = load_index(spark, out_dir)
    assert idx.champions is not None
    assert idx.meta["champion_p"] == 8192
    over = (idx.champions.groupBy("term").count()
            .where(F.col("count") > 8192).count())
    assert over == 0

    queries = query_set(seed=3, n=8)
    exact = topk_plan(idx, embed_queries(spark, idx, queries), 10).collect()
    got = impact_topk(spark, idx, queries, k=10, p=64).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"])
                              for r in rows)
    assert key(got) == key(exact)
