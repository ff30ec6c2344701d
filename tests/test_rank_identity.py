"""Rank identity: Spark engine vs NumPy reference-semantics oracle
(BASELINE.md 'rank identity' target; SURVEY.md §5.2.3).

Protocol: identical corpus (per-row deterministic synthesizer), identical
query set (incl. OOV-only queries ⇒ 0 hits), compare per query:
* top-k doc_id sequences identical,
* scores equal within Float32 tolerance (atol 1e-5),
* every returned document's content_sha256 matches the source row
  (per-row invariant, BASELINE.json input_hint).
"""

import hashlib

import pytest

from garamond_jl_spark.config import EngineConfig, TEST_SCORE_ALPHA
from garamond_jl_spark.corpus import corpus_df, generate_corpus, query_set
from garamond_jl_spark.operators.build import build_index
from garamond_jl_spark.operators.query import search
from garamond_jl_spark.oracle import OracleIndex

N_DOCS = 150
K = 10
CFG = EngineConfig(score_alpha=TEST_SCORE_ALPHA)


@pytest.fixture(scope="module")
def built(spark):
    rows = generate_corpus(N_DOCS, seed=42)
    df = corpus_df(spark, N_DOCS, seed=42, partitions=4)
    index = build_index(spark, df, CFG, id_col=None)
    # The reference's linear id IS the table position (db.jl:47-55), and
    # stable-sort ties break by position (naive.jl:30) — so the oracle
    # must see documents in engine doc_id order.  Map corpus rows to the
    # engine's deterministically assigned ids via content_sha256.
    id_rows = index.docs.select("doc_id", "content_sha256").collect()
    sha2docid = {r["content_sha256"]: r["doc_id"] for r in id_rows}
    ordered = sorted(rows, key=lambda r: sha2docid[r["content_sha256"]])
    oracle = OracleIndex([r["content"] for r in ordered], CFG)
    sha_by_id = {sha2docid[r["content_sha256"]]: r["content_sha256"] for r in rows}
    content_by_id = {sha2docid[r["content_sha256"]]: r["content"] for r in rows}
    return index, oracle, sha_by_id, content_by_id


def test_dense_stable_ids(built):
    index, _, _, _ = built
    ids = sorted(r["doc_id"] for r in built[0].docs.select("doc_id").collect())
    assert ids == list(range(N_DOCS))  # dense 0..n-1 (db.jl:47-55 contract)


def test_rank_identity_full_query_set(spark, built):
    index, oracle, sha_by_id, content_by_id = built
    queries = query_set(seed=42, n=24)
    got = search(spark, index, queries, k=K, hydrate=True).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    checked_nonempty = 0
    for qid, q in enumerate(queries):
        expected = oracle.search(q, K)
        actual = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in actual] == [d for d, _ in expected], \
            f"doc-id sequence mismatch for query {qid!r}: {q!r}"
        for r, (_, s) in zip(actual, expected):
            assert r["score"] == pytest.approx(s, abs=1e-5)
            # per-row content_sha256 invariant on every returned doc
            assert r["content_sha256"] == sha_by_id[r["doc_id"]]
            assert hashlib.sha256(content_by_id[r["doc_id"]].encode()) \
                .hexdigest() == r["content_sha256"]
        if expected:
            checked_nonempty += 1
    assert checked_nonempty >= 15  # query set is mostly in-vocab


def test_oov_only_queries_empty(spark, built):
    index, oracle, _, _ = built
    res = search(spark, index, ["zzz_not_in_vocab", ""], k=K, hydrate=False)
    assert res.count() == 0


def test_weighting_schemes_rank_identity(spark, built):
    """count/tf/tfidf schemes also rank-identical (embedder cartesian,
    test/embedder.jl:15-49 analog)."""
    rows = generate_corpus(60, seed=7)
    for scheme in ("count", "tf", "tfidf"):
        cfg = EngineConfig(weighting=scheme, score_alpha=0.5)
        df = corpus_df(spark, 60, seed=7, partitions=2)
        index = build_index(spark, df, cfg, id_col=None)
        id_rows = index.docs.select("doc_id", "content_sha256").collect()
        sha2id = {r["content_sha256"]: r["doc_id"] for r in id_rows}
        ordered = sorted(rows, key=lambda r: sha2id[r["content_sha256"]])
        oracle = OracleIndex([r["content"] for r in ordered], cfg)
        qs = ["main run data", "parse_0 value"]
        got = search(spark, index, qs, k=5, hydrate=False).collect()
        by_q: dict[int, list] = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, q in enumerate(qs):
            exp = oracle.search(q, 5)
            act = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            assert [r["doc_id"] for r in act] == [d for d, _ in exp], \
                f"{scheme}: mismatch for {q!r}"
            for r, (_, s) in zip(act, exp):
                assert r["score"] == pytest.approx(s, abs=1e-5)


def test_rank_identity_ngram_complexity_2(spark):
    """F3 as a config knob: ngram_complexity=2 indexes unigrams AND
    bigrams (cumulative ngramize, dtv.jl:36-39 + config_parser.jl:
    142-146); engine stays rank-identical to the oracle running the
    same tokenization."""
    cfg = EngineConfig(score_alpha=TEST_SCORE_ALPHA, ngram_complexity=2)
    rows = generate_corpus(80, seed=7)
    df = corpus_df(spark, 80, seed=7, partitions=4)
    index = build_index(spark, df, cfg, id_col=None)
    # the vocabulary really contains bigrams
    assert index.terms.where("term LIKE '% %'").count() > 0
    id_rows = index.docs.select("doc_id", "content_sha256").collect()
    sha2docid = {r["content_sha256"]: r["doc_id"] for r in id_rows}
    ordered = sorted(rows, key=lambda r: sha2docid[r["content_sha256"]])
    oracle = OracleIndex([r["content"] for r in ordered], cfg)
    assert any(" " in t for t in oracle.vocab)
    queries = query_set(seed=7, n=12)
    got = search(spark, index, queries, k=K, hydrate=False).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    nonempty = 0
    for qid, q in enumerate(queries):
        expected = oracle.search(q, K)
        actual = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in actual] == [d for d, _ in expected], \
            f"ngram=2 mismatch for query {qid!r}: {q!r}"
        for r, (_, s) in zip(actual, expected):
            assert r["score"] == pytest.approx(s, abs=1e-5)
        nonempty += bool(expected)
    assert nonempty >= 8


def test_oov_policy_large_vector(spark):
    """E8 :large_vector (dtv.jl:53-58, defaults.jl:26-27): an all-OOV
    document embeds as the constant fill vector and scores
    cos = Σqw/√|V| against every embedded query — rank- and
    score-identical to the oracle; the QUERY-side is_embedded gate is
    unaffected (an all-OOV query still returns nothing)."""
    texts = ["alpha beta gamma", "beta gamma delta", "!!! ??? ...",
             "alpha alpha beta"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id LONG, content STRING")
    for policy in ("none", "large_vector"):
        cfg = EngineConfig(score_alpha=TEST_SCORE_ALPHA, oov_policy=policy)
        index = build_index(spark, df, cfg, id_col="doc_id")
        oracle = OracleIndex(texts, cfg)
        got = sorted(search(spark, index, ["alpha"], k=4,
                            hydrate=False).collect(),
                     key=lambda r: r["rank"])
        expected = oracle.search("alpha", 4)
        assert [r["doc_id"] for r in got] == [d for d, _ in expected], policy
        for r, (_, s) in zip(got, expected):
            assert r["score"] == pytest.approx(s, abs=1e-12), policy
        if policy == "large_vector":
            # the all-OOV doc (id 2) outscores plain zero-overlap fill
            s2 = next(r["score"] for r in got if r["doc_id"] == 2)
            import math
            assert s2 > 1.0 - math.tanh(cfg.score_alpha)
        # query-side gate regardless of policy
        assert search(spark, index, ["zzz_oov"], k=4,
                      hydrate=False).count() == 0


def test_oov_large_vector_without_pad(spark):
    """E8 all-OOV docs are HITS, not padding: they must appear even with
    pad_to_k=False (which suppresses only the cos=0 fill rows)."""
    import math
    texts = ["alpha beta gamma", "beta gamma delta", "!!! ??? ...",
             "alpha alpha beta"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id LONG, content STRING")
    cfg = EngineConfig(score_alpha=TEST_SCORE_ALPHA,
                       oov_policy="large_vector")
    index = build_index(spark, df, cfg, id_col="doc_id")
    got = {r["doc_id"]: r["score"]
           for r in search(spark, index, ["alpha"], k=4, hydrate=False,
                           pad_to_k=False).collect()}
    assert 2 in got                       # the all-OOV doc is present
    assert got[2] > 1.0 - math.tanh(cfg.score_alpha)
    assert 1 not in got                   # zero-overlap fill IS suppressed


def test_pad_edges_match_oracle_both_postures(spark):
    """The dense-knn pad enters the score aggregation as zero-weight
    rows (query.zero_pad).  Against the oracle, lazy and resident:
    a hit among the 2k lowest ids appears once with its real score,
    a query with fewer hits than k fills its tail in doc_id order, and
    under :large_vector the all-OOV docs inside the low prefix score as
    OOV hits and are not padded a second time."""
    from garamond_jl_spark.operators.resident import (make_resident,
                                                      release_resident)
    texts = ["!!! ??? ...", "alpha beta", "... ???", "gamma delta",
             "delta epsilon", "epsilon zeta", "zeta eta", "eta theta",
             "theta iota", "alpha alpha kappa", "kappa lambda",
             "lambda mu"]
    # k=5 → pad ids 0..9: "alpha" hits 1 (inside) and 9 (inside, last);
    # "delta epsilon" hits 3,4,5; "lambda" hits only ids past the pad
    queries = ["alpha", "delta epsilon", "lambda"]
    k = 5
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id LONG, content STRING")
    for policy in ("none", "large_vector"):
        cfg = EngineConfig(score_alpha=TEST_SCORE_ALPHA, oov_policy=policy)
        oracle = OracleIndex(texts, cfg)
        index = build_index(spark, df, cfg, id_col="doc_id")
        for posture in ("lazy", "resident"):
            if posture == "resident":
                make_resident(spark, index, pad_k=8)
            try:
                # the batch exercises the ranking window, each single
                # query the one-request TakeOrdered plan
                batch = search(spark, index, queries, k=k,
                               hydrate=False).collect()
                for qid, q in enumerate(queries):
                    single = search(spark, index, [q], k=k,
                                    hydrate=False).collect()
                    for rows in ([r for r in batch
                                  if r["query_id"] == qid], single):
                        got = sorted(rows, key=lambda r: r["rank"])
                        want = oracle.search(q, k)
                        ids = [r["doc_id"] for r in got]
                        assert ids == [d for d, _ in want], \
                            (policy, posture, q)
                        assert len(set(ids)) == len(ids)
                        for r, (_, s) in zip(got, want):
                            assert r["score"] == pytest.approx(s, abs=1e-12)
            finally:
                release_resident(index)


def test_two_phase_topk_salt_invariance(spark, built, monkeypatch):
    """The salted two-phase ranking window (query.TOPK_SALTS) is
    rank-identical at every salt count — each salt's local top-k is a
    superset of its contribution to the global top-k, and both phases
    order by the same (score, doc_id) keys."""
    import garamond_jl_spark.operators.query as Q
    idx = built[0]
    qs = query_set(seed=13, n=12)
    # force the heavy-query branch so the salted plan actually runs
    # (production engages it from the per-query row estimate)
    monkeypatch.setattr(Q, "TOPK_TWO_PHASE_ROWS", 0)

    def rows(salts):
        monkeypatch.setattr(Q, "TOPK_SALTS", salts)
        return sorted((r["query_id"], r["doc_id"],
                       round(r["score"], 12), r["rank"])
                      for r in search(spark, idx, qs, k=7,
                                      hydrate=False).collect())

    base = rows(1)          # single salt == the classic one-window plan
    assert base == rows(32) == rows(5)


def test_duplicate_query_memoization_identity(spark, built):
    """search() scores each DISTINCT query once and fans results back
    out (r6 batch memoization): a batch with repeated query strings must
    return, per query_id, exactly the rows of the all-unique run —
    including an OOV duplicate yielding zero rows."""
    idx = built[0]
    uniq = query_set(seed=7, n=4) + ["zzz_oov_only"]
    dup = [uniq[i % len(uniq)] for i in range(13)]   # every rep repeated
    got = search(spark, idx, dup, k=5, hydrate=False).collect()
    ref = search(spark, idx, uniq, k=5, hydrate=False).collect()
    ref_by_q: dict[int, set] = {}
    for r in ref:
        ref_by_q.setdefault(r["query_id"], set()).add(
            (r["doc_id"], round(r["score"], 9), r["rank"]))
    got_by_q: dict[int, set] = {}
    for r in got:
        got_by_q.setdefault(r["query_id"], set()).add(
            (r["doc_id"], round(r["score"], 9), r["rank"]))
    for qid, q in enumerate(dup):
        assert got_by_q.get(qid, set()) == ref_by_q.get(uniq.index(q),
                                                        set()), \
            f"query {qid} ({q!r}) differs from its unique-run twin"


def test_stats_probe_join_path_identity(spark, built, monkeypatch):
    """Large batches fetch term stats via a broadcast join instead of a
    multi-thousand-literal isin (r6, bounded plan size); both probes
    must return identical results."""
    import garamond_jl_spark.operators.query as Q
    idx = built[0]
    qs = query_set(seed=21, n=16)
    base = sorted((r["query_id"], r["doc_id"], r["rank"])
                  for r in search(spark, idx, qs, k=5,
                                  hydrate=False).collect())
    monkeypatch.setattr(Q, "STATS_PROBE_ISIN_MAX", 0)   # force the join
    joined = sorted((r["query_id"], r["doc_id"], r["rank"])
                    for r in search(spark, idx, qs, k=5,
                                    hydrate=False).collect())
    assert base == joined


def test_df_stats_memo_identity_and_live_bypass(spark, built, monkeypatch):
    """Repeat searches answer term stats from the per-index memo (r6)
    with identical results and no stats probe; a live-delta view
    bypasses the memo and probes even when the memo is warm."""
    import garamond_jl_spark.operators.query as Q
    from garamond_jl_spark.operators.build import InvertedIndex
    idx = built[0]
    qs = query_set(seed=3, n=6)

    def rows(index):
        return sorted((r["query_id"], r["doc_id"], r["rank"])
                      for r in search(spark, index, qs, k=5,
                                      hydrate=False).collect())

    first = rows(idx)
    assert idx.meta.get("_df_memo")          # memo populated
    calls = []
    probe = Q._stats_probe

    def counting_probe(terms, query_terms):
        calls.append(len(query_terms))
        return probe(terms, query_terms)

    monkeypatch.setattr(Q, "_stats_probe", counting_probe)
    assert rows(idx) == first
    assert calls == []                       # warm frozen repeat: no probe
    # a live view carries the same warm memo but must not consult it
    live = InvertedIndex(docs=idx.docs, terms=idx.terms,
                         postings=idx.postings,
                         meta={**idx.meta, "live_deltas": True},
                         tokenizer=idx.tokenizer)
    assert rows(live) == first               # same frozen stats today,
    assert calls                             # but fetched through the probe


def test_df_stats_memo_bounded_under_oov_flood(spark, built, monkeypatch):
    """A long-lived index fed a stream of distinct out-of-vocabulary
    terms keeps both df memos under their caps (oldest entries evicted)
    and still scores exactly like an uncapped index."""
    import dataclasses

    import garamond_jl_spark.operators.query as Q
    idx = built[0]
    qs = query_set(seed=5, n=6)

    def rows(index, queries):
        return sorted((r["query_id"], r["doc_id"], round(r["score"], 12),
                       r["rank"]) for r in search(spark, index, queries, k=5,
                                                  hydrate=False).collect()
                      if r["query_id"] < len(qs))

    expected = rows(idx, qs)
    assert expected
    monkeypatch.setattr(Q, "DF_MEMO_CAP", 2)
    monkeypatch.setattr(Q, "DF_MEMO_ABSENT_CAP", 4)
    capped = dataclasses.replace(idx, meta={
        k: v for k, v in idx.meta.items() if not k.startswith("_df_memo")})
    letters = "bcdfghjklmnpqrstvwxz"
    for rnd in range(4):
        oov = " ".join(f"qq{letters[rnd]}{a}{b}x"
                       for a in letters[:3] for b in letters[:3])
        assert rows(capped, qs + [oov]) == expected
        memo = capped.meta["_df_memo"]
        absent = capped.meta["_df_memo_absent"]
        assert 0 < len(memo) <= 2 and 0 < len(absent) <= 4
