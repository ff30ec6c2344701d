"""E2-E5 embedders vs NumPy oracles implementing the same documented
semantics (value identity per (doc, dim), 1e-9) + a cosine_topk rank
check.  Reference files: sif.jl, borep.jl, cpmean.jl, disc.jl."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from garamond_jl_spark.operators.semantic import (
    CPMEAN_POWERS, DEFAULT_DIM, SIF_ALPHA, borep_doc_embeddings,
    borep_projection, cosine_topk, cpmean_doc_embeddings,
    disc_doc_embeddings, sif_doc_embeddings, synthetic_word_vectors,
    word_vector_component)

DIM = 4
DOCS = [
    (0, "red green blue"),
    (1, "red red yellow"),
    (2, "blue yellow yellow green"),
    (3, "green"),
    (4, "purple purple red"),
]


@pytest.fixture(scope="module")
def corpus(spark):
    d = spark.createDataFrame(DOCS, "doc_id LONG, text STRING")
    tok = (d.select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("pos", "term")))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wv = synthetic_word_vectors(tf.select("term"), dim=DIM, seed=0)
    vocab = sorted({t for _, text in DOCS for t in text.split()})
    vecs = {t: np.array([word_vector_component(t, i, 0)
                         for i in range(1, DIM + 1)]) for t in vocab}
    return d, tok, tf, wv, vecs


def _collect_dv(df):
    return {(r["doc_id"], r["i"]): r["dv"] for r in df.collect()}


def _assert_close(got, expect):
    assert set(got) == set(expect), (sorted(got)[:5], sorted(expect)[:5])
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-9, (k, got[k], expect[k])


def test_sif_matches_numpy(spark, corpus):
    _, _, tf, wv, vecs = corpus
    lex = tf.groupBy("term").agg(F.sum("tf").alias("count"))
    got = _collect_dv(sif_doc_embeddings(tf, wv, lex, alpha=SIF_ALPHA))
    # numpy oracle
    counts = {}
    for _, text in DOCS:
        for t in text.split():
            counts[t] = counts.get(t, 0) + 1
    total = sum(counts.values())
    X = np.zeros((len(DOCS), DIM))
    for d, (_, text) in enumerate(DOCS):
        toks = text.split()
        for t in toks:
            p = counts[t] / total
            X[d] += SIF_ALPHA / (SIF_ALPHA + p) * vecs[t]
        X[d] /= len(toks)
    G = X.T @ X
    _, V = np.linalg.eigh(G)
    u = V[:, -1]
    X = X - np.outer(X @ u, u)
    expect = {(d, i + 1): X[d, i] for d in range(len(DOCS))
              for i in range(DIM)}
    _assert_close(got, expect)


def test_borep_sum_and_max_match_numpy(spark, corpus):
    _, _, tf, wv, vecs = corpus
    R_rows = borep_projection(DIM, 8, seed=0)
    R = np.zeros((8, DIM))
    for o, i, r in R_rows:
        R[o - 1, i - 1] = r
    assert set(np.unique(np.abs(R))) == {1.0 / math.sqrt(DIM)}

    got = _collect_dv(borep_doc_embeddings(tf, wv, dim_in=DIM, dim_out=8,
                                           pooling="sum", seed=0))
    expect = {}
    for d, (_, text) in enumerate(DOCS):
        boe = np.sum([vecs[t] for t in text.split()], axis=0)
        proj = R @ boe
        for o in range(8):
            expect[(d, o + 1)] = proj[o]
    _assert_close(got, expect)

    got = _collect_dv(borep_doc_embeddings(tf, wv, dim_in=DIM, dim_out=8,
                                           pooling="max", seed=0))
    expect = {}
    for d, (_, text) in enumerate(DOCS):
        per_word = np.stack([R @ vecs[t] for t in set(text.split())])
        mx = per_word.max(axis=0)
        for o in range(8):
            expect[(d, o + 1)] = mx[o]
    _assert_close(got, expect)


def test_cpmean_matches_numpy(spark, corpus):
    _, _, tf, wv, vecs = corpus
    got = _collect_dv(cpmean_doc_embeddings(tf, wv, dim=DIM, znorm=True))
    expect = {}
    for d, (_, text) in enumerate(DOCS):
        A = np.stack([vecs[t] for t in text.split()], axis=1)  # dim × n
        n = A.shape[1]
        blocks = {
            "min": A.min(axis=1), "max": A.max(axis=1),
            "mean": A.mean(axis=1),
            "geo": np.sign(np.prod(A, axis=1))
            * np.abs(np.prod(A, axis=1)) ** (1.0 / n),
        }
        for bi, p in enumerate(CPMEAN_POWERS):
            b = blocks[p]
            mu, sd = b.mean(), b.std(ddof=1)
            b = (b - mu) / (sd + 1e-16)
            for i in range(DIM):
                expect[(d, bi * DIM + i + 1)] = b[i]
    _assert_close(got, expect)


def test_disc_matches_numpy(spark, corpus):
    _, tok, _, wv, vecs = corpus
    got = _collect_dv(disc_doc_embeddings(tok, wv, dim=DIM, n=2))
    expect = {}
    for d, (_, text) in enumerate(DOCS):
        seq = [vecs[t] for t in text.split()]
        b1 = np.sum(seq, axis=0)                       # k=1
        for i in range(DIM):
            expect[(d, i + 1)] = b1[i]
        if len(seq) >= 2:                              # k=2
            b2 = np.sum([seq[j] * seq[j + 1]
                         for j in range(len(seq) - 1)], axis=0) / 2.0
            for i in range(DIM):
                expect[(d, DIM + i + 1)] = b2[i]
    _assert_close(got, expect)


def test_cosine_topk_ranks(spark, corpus):
    _, _, tf, wv, vecs = corpus
    from garamond_jl_spark.operators.semantic import boe_doc_embeddings
    dv = boe_doc_embeddings(tf, wv)
    q = vecs["red"]
    qv_rows = [(i + 1, float(q[i])) for i in range(DIM)]
    got = sorted(cosine_topk(dv, {0: qv_rows}, k=3,
                             tiebreak_round=9).collect(),
                 key=lambda r: r["rank"])
    mats = {d: np.sum([vecs[t] for t in text.split()], axis=0)
            for d, (_, text) in enumerate(DOCS)}
    scored = sorted(
        ((d, float(m @ q / (np.linalg.norm(m) * np.linalg.norm(q))))
         for d, m in mats.items()),
        key=lambda x: (-round(x[1], 9), x[0]))[:3]
    assert [r["doc_id"] for r in got] == [d for d, _ in scored]


def test_cosine_topk_batch_matches_batches_of_one(spark, corpus):
    """A two-query cosine_topk batch (per-query window) ranks exactly
    as two batches of one (TakeOrderedAndProject)."""
    _, _, tf, wv, vecs = corpus
    from garamond_jl_spark.operators.semantic import boe_doc_embeddings
    dv = boe_doc_embeddings(tf, wv)
    qs = {q: [(i + 1, float(vecs[t][i])) for i in range(DIM)]
          for q, t in ((0, "red"), (1, "yellow"))}

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def rows(df):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                      for r in df.collect())

    batch = cosine_topk(dv, qs, k=3, tiebreak_round=9)
    assert "Window" in plan(batch)
    assert "TakeOrderedAndProject" not in plan(batch)
    want = []
    for q, qv in qs.items():
        one = cosine_topk(dv, {q: qv}, k=3, tiebreak_round=9)
        assert "TakeOrderedAndProject" in plan(one)
        want += rows(one)
    got = rows(batch)
    assert len(got) == 6
    assert [r[:3] for r in got] == [r[:3] for r in sorted(want)]
    for a, b in zip(got, sorted(want)):
        assert a[3] == pytest.approx(b[3], abs=1e-12)


def test_rp_matches_numpy(spark, corpus):
    """E7 RP of weighted DTVs ≡ NumPy w·R with the same md5-derived
    signs (rp_doc_embeddings is join-free: explode + one shuffle)."""
    from garamond_jl_spark.operators.semantic import (rp_doc_embeddings,
                                                      rp_sign)
    _, _, tf, _, _ = corpus
    m = 8
    postings = tf.select("term", "doc_id",
                         F.col("tf").cast("double").alias("w"))
    got = _collect_dv(rp_doc_embeddings(postings, dim_out=m, seed=0))
    inv = 1.0 / math.sqrt(m)
    expect = {}
    for d, (_, text) in enumerate(DOCS):
        cnt = {}
        for t in text.split():
            cnt[t] = cnt.get(t, 0) + 1
        for o in range(1, m + 1):
            expect[(d, o)] = sum(w * (rp_sign(t, o, 0) * inv)
                                 for t, w in cnt.items())
    _assert_close(got, expect)


def test_embedding_cosine_pairs_near_dups(spark):
    """dedup method #5: injected near-identical vector pairs are
    recovered through the LSH-bucket candidate join with exact cosines
    (vs NumPy, 1e-6 via the e6 encoding)."""
    from garamond_jl_spark.plans.pipeline_queries import (
        embedding_cosine_pairs)
    rng = np.random.default_rng(7)
    dim = 16
    base = rng.normal(size=(20, dim))
    rows = []
    for vid, vec in enumerate(base):
        rows.append((vid, [float(x) for x in vec]))
    # near-dups: ids 100+j = tiny perturbation of j (cos ≈ 0.999+)
    for j in range(5):
        pert = base[j] + 0.01 * rng.normal(size=dim)
        rows.append((100 + j, [float(x) for x in pert]))
    e = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    u = (e.select("vec_id", F.posexplode("embedding").alias("i", "v"))
         .withColumn("i", F.col("i") + 1))
    got = {(r["vec_a"], r["vec_b"]): r["cos_e6"]
           for r in embedding_cosine_pairs(u, threshold=0.95).collect()}
    vecs = {vid: np.array(v) for vid, v in rows}
    for j in range(5):
        key = (j, 100 + j)
        assert key in got, (j, sorted(got))
        c = float(vecs[j] @ vecs[100 + j]
                  / (np.linalg.norm(vecs[j]) * np.linalg.norm(vecs[100 + j])))
        assert got[key] == round(c * 1e6), (key, got[key], c)
    # no false positives among the unrelated gaussian base vectors
    for (a, b) in got:
        assert b - a == 100, (a, b)


def test_lsa_rank_matches_numpy(spark, corpus):
    """E7 :lsa — latent-space cosine ranking is sign-flip invariant, so
    the mllib ARPACK factorization must rank-match a NumPy full SVD of
    the same DTM (scores within 1e-6)."""
    from garamond_jl_spark.operators.semantic import (cosine_topk,
                                                      lsa_projection,
                                                      project_dtv)
    _, _, tf, _, _ = corpus
    postings = tf.select("term", "doc_id",
                         F.col("tf").cast("double").alias("w"))
    k = 3
    v_table, s = lsa_projection(postings, dim_out=k)
    dv = project_dtv(postings, v_table)
    vocab = sorted({t for _, text in DOCS for t in text.split()})
    X = np.zeros((len(DOCS), len(vocab)))
    for d, (_, text) in enumerate(DOCS):
        for t in text.split():
            X[d, vocab.index(t)] += 1.0
    _, s_np, Vt = np.linalg.svd(X, full_matrices=False)
    assert np.allclose(sorted(s, reverse=True), s_np[:k], atol=1e-8)
    # query = doc 1's own term vector; fold in and rank
    q = X[1]
    qhat = Vt[:k] @ q
    doc_hat = X @ Vt[:k].T
    expect = sorted(
        ((d, float(doc_hat[d] @ qhat
                   / (np.linalg.norm(doc_hat[d]) * np.linalg.norm(qhat))))
         for d in range(len(DOCS))),
        key=lambda x: (-round(x[1], 6), x[0]))[:3]
    qw = {t: float(q[vocab.index(t)]) for t in vocab if q[vocab.index(t)]}
    vq = v_table.where(F.col("term").isin(*qw)).collect()
    acc = {}
    for r in vq:
        acc[r["i"]] = acc.get(r["i"], 0.0) + qw[r["term"]] * r["v"]
    got = sorted(cosine_topk(dv, {0: sorted(acc.items())}, k=3,
                             tiebreak_round=6).collect(),
                 key=lambda r: r["rank"])
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    for r, (_, c) in zip(got, expect):
        assert abs(r["score"] - c) < 1e-6, (r, c)


def test_conceptnet_compound_and_wildcard_matching(spark):
    """E6 compound-word / wildcard lookup goldens
    (reference wordvectors.jl:142-158 ConceptNet embed_document
    semantics: greedy longest-first compound consumption, prefix
    fallback for OOV tokens)."""
    from garamond_jl_spark.operators.semantic import (
        boe_embed_query, conceptnet_match_tokens, lookup_tokens)
    vocab = {"new_york", "york", "city", "run", "big_apple", "apple",
             "data_frame"}
    # greedy compound wins over the unigram; leftovers match singly
    assert conceptnet_match_tokens(["new", "york", "city"], vocab) == \
        ["new_york", "city"]
    # max length 1 disables compounds
    assert conceptnet_match_tokens(["new", "york", "city"], vocab,
                                   max_compound_word_length=1) == \
        ["york", "city"]
    # wildcard: longest >=3-char vocab prefix of an OOV token
    assert conceptnet_match_tokens(["running", "fast"], vocab,
                                   wildcard_matching=True) == ["run"]
    # no wildcard => OOV token dropped
    assert conceptnet_match_tokens(["running", "fast"], vocab) == []
    # overlap resolution is sequential: big_apple consumes both tokens
    assert conceptnet_match_tokens(["big", "apple"], vocab) == ["big_apple"]

    # distributed front end resolves against the actual wv table
    wv = spark.createDataFrame(
        [(t, 1, 0.5) for t in sorted(vocab)], "term STRING, i INT, v DOUBLE")
    assert lookup_tokens(spark, wv, ["new", "york", "city"]) == \
        ["new_york", "city"]
    assert lookup_tokens(spark, wv, ["running"],
                         wildcard_matching=True) == ["run"]
    # end-to-end: the embedded query equals the one built from the
    # matched entries directly
    got = {(r["i"], r["qv"]) for r in
           boe_embed_query(spark, "new york city", wv,
                           compound_word_separator="_").collect()}
    want = {(r["i"], r["qv"]) for r in
            boe_embed_query(spark, "new_york city", wv).collect()}
    assert got == want and got


def test_batch_embed_matches_single_rp_lsa_boe(spark):
    """embed_queries_df (the search_many one-job batch embedding) is
    component-identical to the per-query embed_query loop for every
    searcher kind — RP (md5-sign fold), LSA (V fold-in), BOE (wv sum)."""
    from garamond_jl_spark.config import EngineConfig
    from garamond_jl_spark.operators.build import build_index
    from garamond_jl_spark.operators.semantic import (
        BOESearcher, LSASearcher, RPSearcher, synthetic_word_vectors)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(spark, docs, EngineConfig(score_alpha=0.4),
                      id_col="doc_id", text_col="text")
    tok = (docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("term"))
           .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wv = synthetic_word_vectors(tf.select("term"), dim=8, seed=0)

    queries = ["spark join data", "window batch merge",
               "zzzz_all_oov_here"]
    searchers = [
        BOESearcher.from_tokens(tf, wv, score_alpha=0.4),
        RPSearcher(idx, dim_out=8, seed=0, score_alpha=0.4),
        LSASearcher.from_index(idx, dim_out=4, score_alpha=0.4),
    ]
    for s in searchers:
        batch = {}
        for r in s.embed_queries_df(spark, queries).collect():
            batch.setdefault(r["query_id"], {})[r["i"]] = r["qv"]
        for qid, q in enumerate(queries):
            qv = s.embed_query(spark, q)
            single = {} if qv is None else \
                {r["i"]: r["qv"] for r in qv.collect()}
            single = {i: v for i, v in single.items() if v != 0.0}
            got = {i: v for i, v in batch.get(qid, {}).items()
                   if v != 0.0}
            assert set(got) == set(single), (type(s).__name__, qid)
            for i, v in single.items():
                assert got[i] == pytest.approx(v, abs=1e-12), \
                    (type(s).__name__, qid, i)


QUERY = "red yellow red"


def _numpy_query_embeddings(vecs, method, **kw):
    """NumPy twin of each _QueryAsDocSearcher's embed_query for QUERY —
    the same math the semantic_*_topk parity queries use driver-side."""
    from collections import Counter
    toks = QUERY.split()
    qc = Counter(toks)
    if method == "sif":
        counts, alpha = kw["counts"], kw["alpha"]
        total = sum(counts.values())
        out = np.zeros(DIM)
        for t, c in qc.items():
            p = counts[t] / total
            out += c * alpha / (alpha + p) * vecs[t]
        return {i + 1: out[i] / len(toks) for i in range(DIM)}
    if method == "borep":
        R = np.zeros((kw["dim_out"], DIM))
        for o, i, r in borep_projection(DIM, kw["dim_out"], seed=0):
            R[o - 1, i - 1] = r
        if kw["pooling"] == "sum":
            boe = np.zeros(DIM)
            for t, c in qc.items():
                boe += c * vecs[t]
            out = R @ boe
        else:                          # max over per-word projections
            out = np.max(np.stack([R @ vecs[t] for t in qc]), axis=0)
        return {o + 1: out[o] for o in range(kw["dim_out"])}
    if method == "cpmean":
        A = np.stack([vecs[t] for t in toks], axis=1)
        n = A.shape[1]
        blocks = [A.min(axis=1),
                  np.sign(np.prod(A, axis=1))
                  * np.exp(np.sum(np.log(np.abs(A) + 1e-300), axis=1) / n),
                  A.mean(axis=1), A.max(axis=1)]
        order = {"min": 0, "geo": 1, "mean": 2, "max": 3}
        out = {}
        for bi, p in enumerate(CPMEAN_POWERS):
            b = blocks[order[p]]
            zb = (b - b.mean()) / (b.std(ddof=1) + 1e-16)
            out.update({bi * DIM + i + 1: zb[i] for i in range(DIM)})
        return out
    if method == "disc":
        seq = [vecs[t] for t in toks]
        out = {i + 1: np.sum(seq, axis=0)[i] for i in range(DIM)}
        b2 = np.sum([seq[j] * seq[j + 1]
                     for j in range(len(seq) - 1)], axis=0) / 2.0
        out.update({DIM + i + 1: b2[i] for i in range(DIM)})
        return out
    raise ValueError(method)


def _searchers(spark, corpus):
    from garamond_jl_spark.operators.semantic import (
        BOREPSearcher, CPMeanSearcher, DisCSearcher, SIFSearcher)
    _, tok, tf, wv, vecs = corpus
    return {
        "sif": SIFSearcher.from_tokens(tf, wv, alpha=SIF_ALPHA),
        "borep_sum": BOREPSearcher.from_tokens(tf, wv, dim_in=DIM,
                                               dim_out=6, pooling="sum",
                                               seed=0),
        "borep_max": BOREPSearcher.from_tokens(tf, wv, dim_in=DIM,
                                               dim_out=6, pooling="max",
                                               seed=0),
        "cpmean": CPMeanSearcher.from_tokens(tf, wv, dim=DIM),
        "disc": DisCSearcher.from_tokens_pos(
            tok.select("doc_id", "pos", "term"), wv, dim=DIM, n=2),
    }


def test_query_as_doc_searchers_match_numpy(spark, corpus):
    """The doc2vec env searchers (sif/borep/cpmean/disc) embed a QUERY
    through the same function as documents; the result must equal the
    NumPy query math the semantic_*_topk parity queries use."""
    _, _, tf, wv, vecs = corpus
    counts = {}
    for _, text in DOCS:
        for t in text.split():
            counts[t] = counts.get(t, 0) + 1
    expected = {
        "sif": _numpy_query_embeddings(vecs, "sif", counts=counts,
                                       alpha=SIF_ALPHA),
        "borep_sum": _numpy_query_embeddings(vecs, "borep", dim_out=6,
                                             pooling="sum"),
        "borep_max": _numpy_query_embeddings(vecs, "borep", dim_out=6,
                                             pooling="max"),
        "cpmean": _numpy_query_embeddings(vecs, "cpmean"),
        "disc": _numpy_query_embeddings(vecs, "disc"),
    }
    for name, s in _searchers(spark, corpus).items():
        got = {r["i"]: r["qv"]
               for r in s.embed_query(spark, QUERY).collect()}
        exp = expected[name]
        assert set(got) == set(exp), name
        for i, v in exp.items():
            assert got[i] == pytest.approx(v, abs=1e-9), (name, i)


def test_query_as_doc_batch_matches_single(spark, corpus):
    """embed_queries_df ≡ per-query embed_query for the four new
    searcher kinds (incl. an all-OOV query that must gate out)."""
    queries = [QUERY, "green blue", "zzz_oov_zzz"]
    for name, s in _searchers(spark, corpus).items():
        batch = {}
        for r in s.embed_queries_df(spark, queries).collect():
            batch.setdefault(r["query_id"], {})[r["i"]] = r["qv"]
        assert 2 not in batch or not any(batch[2].values()), name
        for qid, q in enumerate(queries[:2]):
            single = {r["i"]: r["qv"]
                      for r in s.embed_query(spark, q).collect()}
            got = batch.get(qid, {})
            assert set(got) == set(single), (name, qid)
            for i, v in single.items():
                assert got[i] == pytest.approx(v, abs=1e-12), (name, qid, i)


def test_query_as_doc_sparse_hits_rank(spark, corpus):
    """sparse_hits (the lifecycle merge interface) ranks identically to
    cosine_topk over the same doc embeddings + query vector — the
    score transform is monotone, so ranks carry over."""
    for name, s in _searchers(spark, corpus).items():
        qv_rows = [(r["i"], r["qv"])
                   for r in s.embed_query(spark, QUERY).collect()]
        want = [r["doc_id"] for r in
                cosine_topk(s.doc_embeddings, {0: qv_rows}, k=5,
                            tiebreak_round=9).collect()]
        hits = s.sparse_hits(spark, QUERY)
        got = [r["doc_id"] for r in
               hits.orderBy(F.round("score", 9).desc(),
                            F.col("doc_id").asc()).limit(5).collect()]
        assert got == want, name


def test_disc_oov_tokens_compact(spark):
    """disc: OOV tokens compact out of the sequence before k-grams
    (disc.jl:64-75 builds the matrix from EMBEDDED words only) — the
    bigram must SPAN a dropped token, not break on it."""
    from garamond_jl_spark.operators.semantic import (
        disc_doc_embeddings, synthetic_word_vectors, word_vector_component)
    d = spark.createDataFrame([(0, "red OOVX blue")],
                              "doc_id LONG, text STRING")
    tok = d.select("doc_id", F.posexplode(F.split("text", " "))
                   .alias("pos", "term"))
    vocab = spark.createDataFrame([("red",), ("blue",)], "term STRING")
    wv = synthetic_word_vectors(vocab, dim=DIM, seed=0)
    got = _collect_dv(disc_doc_embeddings(tok, wv, dim=DIM, n=2))
    red = np.array([word_vector_component("red", i, 0)
                    for i in range(1, DIM + 1)])
    blue = np.array([word_vector_component("blue", i, 0)
                     for i in range(1, DIM + 1)])
    b2 = red * blue / 2.0
    for i in range(DIM):
        assert got[(0, DIM + i + 1)] == pytest.approx(b2[i], abs=1e-12)


def test_cpmean_oov_tokens_excluded_from_multiset(spark, corpus):
    """cpmean's power means run over the EMBEDDED word multiset
    (cpmean.jl:55 hcat's in-vocabulary columns only): an OOV token must
    not inflate the denominator — it raised the geomean to a wrong
    power that z-normalization cannot cancel."""
    _, _, tf, wv, vecs = corpus
    # append an OOV-only token row to every doc's term counts
    oov = tf.sparkSession.createDataFrame(
        [(d, "zz_oov_token", 3) for d, _ in DOCS],
        "doc_id LONG, term STRING, tf LONG")
    got = _collect_dv(cpmean_doc_embeddings(
        tf.unionByName(oov), wv, dim=DIM, znorm=True))
    # oracle: identical to the clean corpus (OOV contributes nothing)
    want = _collect_dv(cpmean_doc_embeddings(tf, wv, dim=DIM, znorm=True))
    _assert_close(got, want)
