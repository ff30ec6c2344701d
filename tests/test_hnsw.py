"""Sharded HNSW candidate index (operators/hnsw_graph.py +
operators/ann.HNSWCandidateIndex — the real counterpart of
reference/src/index/hnsw.jl:14-45, replacing the round-3 LSH
stand-in).

The graph algorithm is pinned driver-side with no Spark (recall,
exhaustive-ef exactness, determinism, serialization identity); the
Spark wrapper is pinned on the clustered corpus (candidate recall,
sublinearity, searcher-backed lifecycle identity, save/load, extend).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from garamond_jl_spark.operators.ann import HNSWCandidateIndex
from garamond_jl_spark.operators.hnsw_graph import (NumpyHNSW, build_shard,
                                                    level_for)


def _clustered(seed=7, n_clusters=8, per=30, dim=16, spread=0.25):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 3.0
    mat = np.vstack([c + rng.normal(size=(per, dim)) * spread
                     for c in centers])
    return centers, mat


def _long(spark, mat):
    rows = [(int(d), int(i) + 1, float(v))
            for d, vec in enumerate(mat) for i, v in enumerate(vec)]
    return spark.createDataFrame(rows, "doc_id LONG, i INT, dv DOUBLE")


def _cand(idx, qv, **kw):
    """doc_ids of one query's probe (a batch of one)."""
    return {r["doc_id"]
            for r in idx.candidates_batch({0: qv}, **kw).collect()}


def _exact_cos_topk(mat, q, k, exclude=None):
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    cos = norm @ qn
    idxs = sorted(range(len(cos)), key=lambda i: (-round(cos[i], 9), i))
    return [i for i in idxs if i != exclude][:k]


# ---------------------------------------------------------------------------
# graph core (no Spark)
# ---------------------------------------------------------------------------

def test_hnsw_core_recall_exhaustive_determinism():
    _, mat = _clustered(per=50)
    n = mat.shape[0]
    g = build_shard(list(range(n)), mat, M=8, ef_construction=100, seed=0)

    def exact(q, k):
        d = np.linalg.norm(mat - q, axis=1)
        return sorted(range(n), key=lambda i: (round(d[i], 9), i))[:k]

    # production-ef recall on clustered data
    recalls = []
    for q in (0, 55, 120, 333, 399):
        got = [k for k, _ in g.search(mat[q], 10, ef=50)]
        recalls.append(len(set(got) & set(exact(mat[q], 10))) / 10)
    assert sum(recalls) / len(recalls) >= 0.9, recalls

    # ef >= shard size: the beam is exhaustive over the connected
    # graph -> EXACT top-k (the parity-row mode)
    for q in (0, 99, 250):
        assert [k for k, _ in g.search(mat[q], 10, ef=n)] == exact(mat[q], 10)

    # md5 level draws + sorted-key insertion: rebuild is identical
    g2 = build_shard(list(range(n)), mat, M=8, ef_construction=100, seed=0)
    assert list(g2.to_rows()) == list(g.to_rows())

    # serialization round-trip searches identically (entry derived)
    g3 = NumpyHNSW.from_rows(list(g.to_rows()), 16, 8, 100, 0)
    for q in (0, 123, 398):
        assert g3.search(mat[q], 10, ef=50) == g.search(mat[q], 10, ef=50)


def test_hnsw_select_neighbors_heuristic():
    """Alg. 4 semantics, pinned directly: on two tight clusters the
    simple rule (Alg. 3) fills a bridge node's neighbor list entirely
    from its own cluster, while the heuristic keeps the first far-
    cluster candidate (it is closer to the base than to every kept
    same-cluster neighbor) and back-fills the pruned near ones."""
    dim = 4
    near = np.array([[0.0, 0, 0, 0], [0.1, 0, 0, 0], [0.0, 0.1, 0, 0],
                     [0.1, 0.1, 0, 0], [0.05, 0.05, 0, 0]])
    far = np.array([[10.0, 0, 0, 0], [10.1, 0, 0, 0]])
    mat = np.vstack([near, far])

    def kept(select):
        g = NumpyHNSW(dim, M=2, ef_construction=50, seed=0, select=select)
        for k in range(len(mat)):
            g.add(k, mat[k])
        base = np.array([0.2, 0.05, 0, 0])
        d = np.linalg.norm(mat - base, axis=1)
        cand = sorted((float(d[i]), i) for i in range(len(mat)))
        return g._select_neighbors(cand, 2)

    simple = kept("simple")
    heur = kept("heuristic")
    assert all(i < 5 for i in simple)          # Alg.3: own cluster only
    assert any(i >= 5 for i in heur), heur     # Alg.4: keeps a far edge
    assert len(heur) == 2                      # back-fill up to m
    # closest candidate is always kept first by both rules
    assert simple[0] == heur[0]

    with pytest.raises(ValueError):
        NumpyHNSW(dim, M=2, select="nope")


def test_hnsw_level_distribution():
    """The md5 level draw follows the paper's geometric-ish decay:
    most nodes at level 0, a thin upper hierarchy, deterministic."""
    m_l = 1.0 / np.log(8)
    levels = [level_for(k, m_l, seed=0) for k in range(2000)]
    assert levels == [level_for(k, m_l, seed=0) for k in range(2000)]
    frac0 = sum(1 for lv in levels if lv == 0) / len(levels)
    assert 0.8 < frac0 < 0.95          # P(level 0) = 1 - 1/M = 0.875
    assert 1 <= max(levels) <= 8


def test_hnsw_from_rows_symmetric_closure_and_guards():
    """The vectorized ``from_rows`` (searchsorted key mapping +
    edge-array undirected closure) pinned against a naive per-node-set
    oracle: row order and key sparsity must not matter, the symmetric
    adjacency must equal out-edges ∪ reversed in-edges (level
    permitting) with each list sorted, and a neighbor key that is not
    in the shard must raise (the old dict lookup's KeyError)."""
    rng = np.random.default_rng(5)
    _, mat = _clustered(seed=5, n_clusters=4, per=40)
    n = mat.shape[0]
    keys = sorted(int(k) for k in rng.choice(10**9, size=n, replace=False))
    g = build_shard(keys, mat, M=4, ef_construction=50, seed=0)
    rows = list(g.to_rows())
    rng.shuffle(rows)

    got = NumpyHNSW.from_rows(list(rows), 16, 4, 50, 0, symmetric=True)

    # naive closure oracle over the plain (asymmetric) load
    plain = NumpyHNSW.from_rows(list(rows), 16, 4, 50, 0, symmetric=False)
    sym = [[set(lev) for lev in plain.nbrs[i]] for i in range(n)]
    for i in range(n):
        for lev, outs in enumerate(plain.nbrs[i]):
            for j in outs:
                if lev < len(sym[j]):
                    sym[j][lev].add(i)
    want = [[sorted(lev) for lev in sym[i]] for i in range(n)]
    assert got.nbrs == want
    assert got.keys == plain.keys == keys          # sorted-key order

    # shuffled load == sorted load, bit-for-bit
    again = NumpyHNSW.from_rows(sorted(rows, key=lambda r: r[0]),
                                16, 4, 50, 0, symmetric=True)
    assert again.nbrs == got.nbrs and again.entry == got.entry

    # adjacency referencing a key outside the shard must not silently
    # mis-map through searchsorted
    key0, lvl0, nb0, vec0 = rows[0]
    bad = [(key0, lvl0, [[999_999_999_999] + list(nb0[0])] + list(nb0[1:]),
            vec0)] + rows[1:]
    with pytest.raises(KeyError):
        NumpyHNSW.from_rows(bad, 16, 4, 50, 0, symmetric=True)


# ---------------------------------------------------------------------------
# Spark wrapper
# ---------------------------------------------------------------------------

def test_hnsw_candidate_index_recall_sublinear(spark):
    """Per-shard beams cover the exact top-10 while the candidate set
    stays well under the corpus (<= n_shards * ef rows)."""
    _, mat = _clustered()
    n = mat.shape[0]
    idx = HNSWCandidateIndex.build(_long(spark, mat), n_shards=3,
                                   M=8, ef_construction=100, ef=40, seed=0)
    recalls, sizes = [], []
    for q in (0, 30, 65, 150):
        qv = [(i + 1, float(v)) for i, v in enumerate(mat[q])]
        cand = _cand(idx, qv)
        want = set(_exact_cos_topk(mat, mat[q], 10))
        recalls.append(len(want & cand) / 10)
        sizes.append(len(cand))
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    assert max(sizes) <= 3 * 40 < n * 0.6, sizes


def test_hnsw_candidates_batch_matches_single(spark):
    _, mat = _clustered(per=20)
    idx = HNSWCandidateIndex.build(_long(spark, mat), n_shards=2,
                                   M=6, ef_construction=60, ef=30, seed=0)
    qv_map = {q: [(i + 1, float(v)) for i, v in enumerate(mat[q])]
              for q in (3, 47, 101)}
    batch = idx.candidates_batch(qv_map).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], set()).add(r["doc_id"])
    for q, qv in qv_map.items():
        single = _cand(idx, qv)
        assert got[q] == single


def test_hnsw_backed_searcher_matches_exact(spark):
    """searcher-owns-an-index with kind='hnsw': same lifecycle top-10
    as the full-scan searcher (exhaustive-ef candidates ⊇ the top-k,
    exact rerank preserves scores bit-for-bit)."""
    from garamond_jl_spark.config import EngineConfig
    from garamond_jl_spark.operators.build import build_index
    from garamond_jl_spark.operators.semantic import (
        BOESearcher, synthetic_word_vectors)
    from garamond_jl_spark.plans.lifecycle import (InternalRequest,
                                                   SearchEnv)
    from garamond_jl_spark.plans.lifecycle import search as lsearch

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(spark, docs, EngineConfig(score_alpha=0.4),
                      id_col="doc_id", text_col="text")
    tok = (docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("term"))
           .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wv = synthetic_word_vectors(tf.select("term"), dim=16, seed=0)

    req = InternalRequest(query="spark join data", max_matches=10,
                          tiebreak_round=6)
    exact = BOESearcher.from_tokens(tf, wv, score_alpha=0.4)
    env_e = SearchEnv(spark=spark, index=idx, score_weight=0.8,
                      searchers=[(exact, 0.8)], aggregation="mean")
    want = sorted(lsearch(env_e, req).collect(), key=lambda r: r["rank"])

    n_docs = docs.count()
    ann = BOESearcher.from_tokens(tf, wv, score_alpha=0.4) \
        .with_candidate_index("hnsw", n_shards=4, M=8,
                              ef_construction=100, ef=n_docs, seed=0)
    env_a = SearchEnv(spark=spark, index=idx, score_weight=0.8,
                      searchers=[(ann, 0.8)], aggregation="mean")
    got = sorted(lsearch(env_a, req).collect(), key=lambda r: r["rank"])

    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]
    for a, b in zip(got, want):
        assert a["score"] == pytest.approx(b["score"], abs=1e-12)


def test_hnsw_resident_index_attaches_to_searcher(spark, tmp_path):
    """with_candidate_index(index=...) + load(resident=True): a
    lifecycle search served from worker-resident graphs ranks
    identically to the live-built searcher-attached index."""
    from garamond_jl_spark.config import EngineConfig
    from garamond_jl_spark.operators.build import build_index
    from garamond_jl_spark.operators.semantic import (
        BOESearcher, synthetic_word_vectors)
    from garamond_jl_spark.plans.lifecycle import (InternalRequest,
                                                   SearchEnv)
    from garamond_jl_spark.plans.lifecycle import search as lsearch

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = build_index(spark, docs, EngineConfig(score_alpha=0.4),
                      id_col="doc_id", text_col="text")
    tok = (docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("term"))
           .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wv = synthetic_word_vectors(tf.select("term"), dim=16, seed=0)
    n_docs = docs.count()
    req = InternalRequest(query="spark join data", max_matches=10,
                          tiebreak_round=6)

    live = BOESearcher.from_tokens(tf, wv, score_alpha=0.4) \
        .with_candidate_index("hnsw", n_shards=4, M=8,
                              ef_construction=100, ef=n_docs, seed=0)
    env_l = SearchEnv(spark=spark, index=idx, score_weight=0.8,
                      searchers=[(live, 0.8)], aggregation="mean")
    want = sorted(lsearch(env_l, req).collect(), key=lambda r: r["rank"])

    live.candidate_index.save(str(tmp_path / "boe_hnsw"))
    res_idx = HNSWCandidateIndex.load(spark, str(tmp_path / "boe_hnsw"),
                                      resident=True)
    with pytest.raises(ValueError, match="attaches the index as-is"):
        BOESearcher.from_tokens(tf, wv, score_alpha=0.4) \
            .with_candidate_index("hnsw", index=res_idx, ef=5000)
    res = BOESearcher.from_tokens(tf, wv, score_alpha=0.4) \
        .with_candidate_index(index=res_idx)
    env_r = SearchEnv(spark=spark, index=idx, score_weight=0.8,
                      searchers=[(res, 0.8)], aggregation="mean")
    got = sorted(lsearch(env_r, req).collect(), key=lambda r: r["rank"])

    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]
    for a, b in zip(got, want):
        assert a["score"] == pytest.approx(b["score"], abs=1e-12)


def test_hnsw_save_load_roundtrip(spark, tmp_path):
    _, mat = _clustered(per=12)
    dv = _long(spark, mat)
    qv = [(i + 1, float(v)) for i, v in enumerate(mat[4])]
    idx = HNSWCandidateIndex.build(dv, n_shards=2, M=6,
                                   ef_construction=60, ef=25, seed=0)
    idx.save(str(tmp_path / "hnsw"))
    idx2 = HNSWCandidateIndex.load(spark, str(tmp_path / "hnsw"))
    assert (idx2.dim, idx2.M, idx2.ef, idx2.shard_hi) == \
        (idx.dim, idx.M, idx.ef, idx.shard_hi)
    assert _cand(idx2, qv) == _cand(idx, qv)

    from garamond_jl_spark.operators.ann import IVFCandidateIndex
    with pytest.raises(ValueError, match="holds a"):
        IVFCandidateIndex.load(spark, str(tmp_path / "hnsw"))


def test_hnsw_resident_plan_matches_streaming(spark, tmp_path):
    """load(resident=True): candidate sets identical to the streaming
    plan — cold AND warm (worker cache hit), beam and exhaustive ef —
    and extend on a resident index falls back to streaming."""
    _, mat = _clustered(per=15)
    dv = _long(spark, mat)
    idx = HNSWCandidateIndex.build(dv, n_shards=3, M=6,
                                   ef_construction=60, ef=20, seed=0)
    idx.save(str(tmp_path / "hnsw"))
    res = HNSWCandidateIndex.load(spark, str(tmp_path / "hnsw"),
                                  resident=True)
    qs = {7: [(i + 1, float(v)) for i, v in enumerate(mat[4])],
          9: [(i + 1, float(v)) for i, v in enumerate(mat[100])]}

    def rows(ix, **kw):
        return sorted((r["query_id"], r["doc_id"])
                      for r in ix.candidates_batch(qs, **kw).collect())

    want_beam = rows(idx)
    assert rows(res) == want_beam            # cold
    assert rows(res) == want_beam            # warm (cache hit path)
    n = mat.shape[0]
    assert rows(res, ef=n) == rows(idx, ef=n)    # exhaustive mode
    assert len(rows(res, ef=n)) == len(qs) * n   # every key, per query

    extra = _long(spark, mat[:10] + 0.01).withColumn(
        "doc_id", F.col("doc_id") + 10_000)
    grown = res.extend(extra)
    assert grown.graph_dir is None           # streaming fallback
    got = {d for _q, d in rows(grown)}
    assert any(d >= 10_000 for d in got)


def test_hnsw_extend_appends_segments(spark):
    """M1 push! analog: appended docs become new shard segments
    (existing graphs untouched, O(batch) build) and are immediately
    findable; pre-existing candidates are unchanged."""
    _, mat = _clustered(per=12)
    half = mat.shape[0] // 2
    dv_a = _long(spark, mat[:half])
    dv_b = spark.createDataFrame(
        [(int(d + half), int(i) + 1, float(v))
         for d, vec in enumerate(mat[half:]) for i, v in enumerate(vec)],
        "doc_id LONG, i INT, dv DOUBLE")
    base = HNSWCandidateIndex.build(dv_a, n_shards=2, M=6,
                                    ef_construction=60, ef=half, seed=0)
    ext = base.extend(dv_b, n_shards=1)
    assert ext.shard_hi == 3

    # a query ON an appended vector finds it (exhaustive ef per shard)
    q = half + 3
    qv = [(i + 1, float(v)) for i, v in enumerate(mat[q])]
    cand_ext = _cand(ext, qv, ef=half)
    assert q in cand_ext
    # old segment results are a subset of the extended index's
    cand_base = _cand(base, qv, ef=half)
    assert cand_base <= cand_ext


# ---------------------------------------------------------------------------
# Euclidean metric (brutetree.jl / kdtree.jl / hnsw.jl family)
# ---------------------------------------------------------------------------

def test_euclidean_metric_matches_numpy(spark):
    """with_metric('euclidean'): dist = L2(q, d) over every embedded
    doc through the pinned 1 − tanh(α·dist) transform — NumPy value
    identity; packed storage and the batch path score identically to
    the long form; an attached candidate index restricts the scored
    set without changing any retained score."""
    from pyspark.sql import SparkSession

    from garamond_jl_spark.operators.semantic import DenseVectorSearcher

    _, mat = _clustered(per=15)
    dv = _long(spark, mat)
    # held-out query (NOT a corpus row): all three execution paths
    # compute dist via ‖d‖²+‖q‖²−2d·q, whose cancellation error at
    # dist≈0 (self-distance) is ~1e-7 — fine for ranking (documented
    # in with_metric), but the value-identity check here stays at
    # 1e-12 by keeping distances bounded away from zero.
    q = mat[3] + 0.5
    qv_rows = [(i + 1, float(v)) for i, v in enumerate(q)]
    alpha = 0.4

    class _FQ(DenseVectorSearcher):
        def embed_query(self, spark: SparkSession, query):
            return spark.createDataFrame(qv_rows, "i INT, qv DOUBLE")

    want = {d: 1.0 - np.tanh(alpha * np.linalg.norm(mat[d] - q))
            for d in range(mat.shape[0])}

    got = {r["doc_id"]: r["score"]
           for r in _FQ(dv, score_alpha=alpha).with_metric("euclidean")
           .sparse_hits(spark, "q").collect()}
    assert set(got) == set(want)          # EVERY embedded doc scored
    for d, s in want.items():
        assert got[d] == pytest.approx(s, abs=1e-12), d

    packed = {r["doc_id"]: r["score"]
              for r in _FQ(dv, score_alpha=alpha).with_metric("euclidean")
              .with_packed_storage(16, persist=False)
              .sparse_hits(spark, "q").collect()}
    assert packed == pytest.approx(got, abs=1e-12)

    hits, embedded = (_FQ(dv, score_alpha=alpha).with_metric("euclidean")
                      .sparse_hits_batch(spark, ["q"]))
    batch = {r["doc_id"]: r["score"] for r in hits.collect()}
    assert [r["query_id"] for r in embedded.collect()] == [0]
    assert batch == pytest.approx(got, abs=1e-12)

    sub = {r["doc_id"]: r["score"]
           for r in _FQ(dv, score_alpha=alpha).with_metric("euclidean")
           .with_candidate_index("lsh", n_planes=6, radius=1, seed=0)
           .sparse_hits(spark, "q").collect()}
    assert 0 < len(sub) < len(want)
    for d, s in sub.items():
        assert s == pytest.approx(want[d], abs=1e-12)

    with pytest.raises(ValueError, match="unknown metric"):
        _FQ(dv).with_metric("manhattan")


def test_euclidean_scores_doc_with_zero_dot(spark):
    """A doc sharing NO nonzero component with the query has no dot
    row — under cosine it is unmatched (NaiveIndex sparse semantics),
    under Euclidean it still has a distance (BruteTree scans all)."""
    from pyspark.sql import SparkSession

    from garamond_jl_spark.operators.semantic import DenseVectorSearcher

    dv = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 3.0)], "doc_id LONG, i INT, dv DOUBLE")
    qv_rows = [(1, 1.0)]                   # only dim 1 nonzero

    class _FQ(DenseVectorSearcher):
        def embed_query(self, spark: SparkSession, query):
            return spark.createDataFrame(qv_rows, "i INT, qv DOUBLE")

    cos_hits = {r["doc_id"] for r in
                _FQ(dv).sparse_hits(spark, "q").collect()}
    assert cos_hits == {0}
    eu = {r["doc_id"]: r["score"] for r in
          _FQ(dv, score_alpha=0.4).with_metric("euclidean")
          .sparse_hits(spark, "q").collect()}
    assert set(eu) == {0, 1}
    assert eu[0] == pytest.approx(1.0 - np.tanh(0.4 * 1.0), abs=1e-12)
    assert eu[1] == pytest.approx(
        1.0 - np.tanh(0.4 * np.sqrt(1.0 + 9.0)), abs=1e-12)


def test_hnsw_backed_batch_matches_single(spark):
    """sparse_hits_batch with an HNSW candidate index (the
    lifecycle.search_many path): per-query hits equal the single-query
    path — one candidates_batch probe pass for the whole batch."""
    from pyspark.sql import SparkSession

    from garamond_jl_spark.operators.semantic import DenseVectorSearcher

    _, mat = _clustered(per=15)
    dv = _long(spark, mat)
    qsets = {0: mat[3] + 0.2, 1: mat[77] - 0.1}

    class _MQ(DenseVectorSearcher):
        def embed_query(self, spark: SparkSession, query):
            q = qsets[int(query)]
            return spark.createDataFrame(
                [(i + 1, float(v)) for i, v in enumerate(q)],
                "i INT, qv DOUBLE")

    def _mk():
        return _MQ(dv, score_alpha=0.4).with_candidate_index(
            "hnsw", n_shards=2, M=6, ef_construction=60, ef=25, seed=0)

    hits, embedded = _mk().sparse_hits_batch(spark, ["0", "1"])
    got = {}
    for r in hits.collect():
        got.setdefault(r["query_id"], {})[r["doc_id"]] = r["score"]
    assert sorted(r["query_id"] for r in embedded.collect()) == [0, 1]
    for qid in (0, 1):
        single = {r["doc_id"]: r["score"]
                  for r in _mk().sparse_hits(spark, str(qid)).collect()}
        assert set(got[qid]) == set(single)
        for d, s in single.items():
            assert got[qid][d] == pytest.approx(s, abs=1e-12)


def test_from_rows_restores_select_mode():
    """A graph built with select='simple' must keep Alg. 3 selection
    after a to_rows/from_rows round trip, or subsequent adds silently
    diverge from a from-scratch simple build."""
    rng = np.random.default_rng(3)
    mat = rng.normal(size=(40, 16))
    g = NumpyHNSW(16, 4, 50, 0, select="simple")
    for k, v in enumerate(mat):
        g.add(k, v)
    g2 = NumpyHNSW.from_rows(list(g.to_rows()), 16, 4, 50, 0,
                             select="simple")
    assert g2.select == "simple"
    # both continue with the SAME selection: extended graphs agree
    extra = rng.normal(size=(5, 16))
    for k, v in enumerate(extra):
        g.add(40 + k, v)
        g2.add(40 + k, v)
    assert [sorted(map(sorted, a)) for a in g.nbrs] == \
        [sorted(map(sorted, b)) for b in g2.nbrs]
    # default stays heuristic
    assert NumpyHNSW.from_rows([], 16).select == "heuristic"
