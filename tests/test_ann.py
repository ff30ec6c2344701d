"""ANN candidate indexes, k-means/PQ trainers, and the ANN-backed dense
searcher (operators/ann.py — the ivfadc.jl capability: trainer,
inverted lists, PQ residual compression, ADC scoring; plus the
searcher-owns-an-index wiring of src/searchable/searcher.jl:120-125).

The DuckDB parity gate pins the deterministic fixed-quantizer paths;
these tests pin the TRAINED paths (recall vs a NumPy exact oracle,
which the float-sum-order-dependent centroids can't hash-match)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from garamond_jl_spark.operators.ann import (IVFADCIndex,
                                             IVFCandidateIndex,
                                             LSHCandidateIndex,
                                             _assign_join,
                                             assign_lists_arrow,
                                             lsh_buckets, train_kmeans)


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


def _exact_topk(mat, qid, k):
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm[qid]
    cos[qid] = -2.0
    return sorted(range(len(cos)), key=lambda i: (-round(cos[i], 6), i))[:k]


def test_kmeans_recovers_clusters(spark):
    """On well-separated clusters the trained centroids land near the
    true centers (one-to-one within a fraction of the cluster spread)
    and the assignment is pure."""
    centers, mat = _clustered()
    dv = _long(spark, mat)
    cent = train_kmeans(dv, k=8, n_iter=6, seed=0)
    got = np.zeros_like(centers)
    for r in cent.collect():
        got[r["cid"], r["i"] - 1] = r["cv"]
    # greedy one-to-one matching on L2
    remaining = set(range(8))
    for c in range(8):
        d = [(np.linalg.norm(got[c] - centers[t]), t) for t in remaining]
        dist, t = min(d)
        assert dist < 0.5, (c, dist)
        remaining.discard(t)


def test_kmeans_sample_ratio_trains(spark):
    """Hash-sampled training still recovers usable centroids (the
    at-scale mode: train on a deterministic subset, assign the corpus
    in a separate pass)."""
    centers, mat = _clustered(per=60)
    dv = _long(spark, mat)
    cent = train_kmeans(dv, k=8, n_iter=5, seed=0, sample_ratio=0.5)
    assert cent.count() == 8 * 16
    ivf = IVFCandidateIndex.build(dv, centroids=cent, n_probe=2)
    # candidate recall of the exact top-10 stays high
    q = 0
    qv = [(i + 1, float(v)) for i, v in enumerate(mat[q])]
    cand = _cand(ivf, qv)
    want = set(_exact_topk(mat, q, 10))
    assert len(want & cand) / 10 >= 0.9


def test_lsh_candidate_index_sublinear(spark):
    """The probed candidate set contains the query's near neighbors
    while staying well under the corpus size."""
    _, mat = _clustered()
    dv = _long(spark, mat)
    idx = LSHCandidateIndex.build(dv, n_planes=6, radius=1, seed=0)
    q = 5
    qv = [(i + 1, float(v)) for i, v in enumerate(mat[q])]
    cand = _cand(idx, qv)
    n = mat.shape[0]
    assert len(cand) < n * 0.8              # sublinear candidate set
    want = set(_exact_topk(mat, q, 10))
    assert len(want & cand) / 10 >= 0.8


def test_ivf_candidate_recall_trained(spark):
    """End-to-end trained IVF: k-means quantizer + inverted lists; the
    exact top-10 of clustered queries is ≥0.9-covered by the probed
    lists while candidates scan ~n_probe/k of the corpus."""
    _, mat = _clustered()
    dv = _long(spark, mat)
    ivf = IVFCandidateIndex.build(dv, n_centroids=8, n_probe=2,
                                  n_iter=5, seed=0)
    recalls, sizes = [], []
    for q in (0, 30, 65, 150):
        qv = [(i + 1, float(v)) for i, v in enumerate(mat[q])]
        cand = _cand(ivf, qv)
        want = set(_exact_topk(mat, q, 10))
        recalls.append(len(want & cand) / 10)
        sizes.append(len(cand))
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    assert max(sizes) < mat.shape[0] * 0.6, sizes


def test_arrow_assignment_matches_join(spark):
    """The mapInArrow blocked-matmul assignment (no |corpus|×K fanout)
    produces the identical (doc_id, cid) map as the join-shaped plan."""
    centers, mat = _clustered(per=20)
    dv = _long(spark, mat)
    cent_df = spark.createDataFrame(
        [(int(c), int(i) + 1, float(v)) for c, vec in enumerate(centers)
         for i, v in enumerate(vec)], "cid INT, i INT, cv DOUBLE")
    want = {r["doc_id"]: r["cid"]
            for r in _assign_join(dv, F.broadcast(cent_df)).collect()}
    packed = spark.createDataFrame(
        [(int(d), [float(x) for x in vec]) for d, vec in enumerate(mat)],
        "doc_id LONG, emb ARRAY<DOUBLE>")
    got = {r["doc_id"]: r["cid"]
           for r in assign_lists_arrow(packed,
                                       centers.tolist()).collect()}
    assert got == want


def test_ivfadc_search_recall_and_memory(spark):
    """The PQ/ADC half of ivfadc.jl: residual codebooks + asymmetric
    distance + exact rerank keep recall@10 ≥ 0.9 on clustered data, and
    the code storage is a measured ≫10× compression of raw floats."""
    _, mat = _clustered()
    dv = _long(spark, mat)
    idx = IVFADCIndex.build(dv, dim=16, n_centroids=8, m=4, n_codes=16,
                            n_probe=2, n_iter=4, seed=0)
    recalls = []
    for q in (0, 30, 65):
        qv = [(i + 1, float(v)) for i, v in enumerate(mat[q])]
        got = [r["doc_id"] for r in idx.search(dv, qv, k=11).collect()
               if r["doc_id"] != q][:10]
        want = _exact_topk(mat, q, 10)
        recalls.append(len(set(want) & set(got)) / 10)
    assert sum(recalls) / len(recalls) >= 0.9, recalls

    stats = idx.memory_stats()
    assert stats["n_vectors"] == mat.shape[0]
    assert stats["bits_per_vector_pq"] == 16      # 4 subs × log2(16)
    assert stats["compression_ratio"] == 64.0     # 1024 raw bits / 16


def test_dense_searcher_ann_backed_matches_exact(spark):
    """The searcher-owns-an-index wiring: a BOE searcher with an LSH
    candidate index returns the same top-10 as the full-scan searcher
    in the heterogeneous lifecycle env (exact rerank of candidates; on
    this corpus the probe set covers the whole top-k), while scoring a
    strict subset of the corpus."""
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

    ann = BOESearcher.from_tokens(tf, wv, score_alpha=0.4) \
        .with_candidate_index("lsh", n_planes=6, radius=3, seed=0)
    env_a = SearchEnv(spark=spark, index=idx, score_weight=0.8,
                      searchers=[(ann, 0.8)], aggregation="mean")
    got = sorted(lsearch(env_a, req).collect(), key=lambda r: r["rank"])

    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]
    for a, b in zip(got, want):
        assert a["score"] == pytest.approx(b["score"], abs=1e-12)

    # and the candidate set really is a strict subset of the corpus
    qv = ann.embed_query(spark, "spark join data")
    qv_rows = [(int(r["i"]), float(r["qv"])) for r in qv.collect()]
    n_cand = ann.candidate_index.candidates_batch({0: qv_rows}).count()
    n_docs = docs.count()
    assert 0 < n_cand < n_docs


def test_ivf_search_with_arrow_assignment(spark):
    """ann_ivf_search accepts a precomputed (arrow-path) assignment:
    the parity plan's K-fanout assignment stage is skipped, results
    keep high recall on clustered data (exact rerank either way)."""
    from garamond_jl_spark.operators.ann import ann_ivf_search
    centers, mat = _clustered()
    u = spark.createDataFrame(
        [(int(d), int(i) + 1, float(v))
         for d, vec in enumerate(mat) for i, v in enumerate(vec)],
        "vec_id LONG, i INT, v DOUBLE")
    packed = spark.createDataFrame(
        [(int(d), [float(x) for x in vec]) for d, vec in enumerate(mat)],
        "vec_id LONG, emb ARRAY<DOUBLE>")
    asg = assign_lists_arrow(packed, centers.tolist(), id_col="vec_id")
    cent = spark.createDataFrame(
        [(int(c), int(i) + 1, float(v)) for c, vec in enumerate(centers)
         for i, v in enumerate(vec)], "cid INT, i INT, cv DOUBLE")
    got = ann_ivf_search(u, [0, 30], k=10, n_probe=2,
                         centroids=cent, asg=asg).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    for q in (0, 30):
        want = set(_exact_topk(mat, q, 10))
        assert len(want & set(by_q.get(q, []))) / 10 >= 0.9


def test_packed_storage_matches_long_form(spark):
    """The packed array storage variant (one row/doc + mapInArrow
    matvec) scores every doc identically (≤1e-12) to the long-form
    join scorer, composes with the candidate index, and packs exactly
    dim components per row."""
    from pyspark.sql import SparkSession
    from garamond_jl_spark.operators.semantic import (DenseVectorSearcher,
                                                      pack_doc_embeddings)
    _, mat = _clustered(per=15)
    dv = _long(spark, mat)
    qv_rows = [(i + 1, float(v)) for i, v in enumerate(mat[3])]

    class _FQ(DenseVectorSearcher):
        def embed_query(self, spark: SparkSession, query):
            return spark.createDataFrame(qv_rows, "i INT, qv DOUBLE")

    long_s = _FQ(dv)
    want = {r["doc_id"]: r["score"]
            for r in long_s.sparse_hits(spark, "q").collect()}

    packed = pack_doc_embeddings(dv, 16)
    assert packed.select(F.size("emb").alias("s")).distinct() \
        .collect()[0]["s"] == 16
    packed_s = _FQ(dv).with_packed_storage(16, persist=False)
    got = {r["doc_id"]: r["score"]
           for r in packed_s.sparse_hits(spark, "q").collect()}
    assert set(got) == set(want)
    for d, s in want.items():
        assert got[d] == pytest.approx(s, abs=1e-12), d

    # composes with an ANN candidate index: scores a strict subset
    ann_s = _FQ(dv, candidate_index=None).with_packed_storage(
        16, persist=False).with_candidate_index("lsh", n_planes=6,
                                                radius=1, seed=0)
    sub = {r["doc_id"]: r["score"]
           for r in ann_s.sparse_hits(spark, "q").collect()}
    assert 0 < len(sub) < len(want)
    for d, s in sub.items():
        assert s == pytest.approx(want[d], abs=1e-12)

    # a sparse query embedding that omits trailing zero dims still
    # scores against the full-width packed rows (width-pad branch)
    narrow = [(i, v) for i, v in qv_rows if i <= 9]

    class _NQ(DenseVectorSearcher):
        def embed_query(self, spark: SparkSession, query):
            return spark.createDataFrame(narrow, "i INT, qv DOUBLE")

    want_n = {r["doc_id"]: r["score"]
              for r in _NQ(dv).sparse_hits(spark, "q").collect()}
    got_n = {r["doc_id"]: r["score"]
             for r in _NQ(dv).with_packed_storage(16, persist=False)
             .sparse_hits(spark, "q").collect()}
    assert set(got_n) == set(want_n)
    for d, s in want_n.items():
        assert got_n[d] == pytest.approx(s, abs=1e-12), d


def test_ann_index_save_load_roundtrip(spark, tmp_path):
    """The S4 env-cache analog for ANN structures: LSH / IVF / IVFADC
    persist (bucket/list-partitioned parquet + meta) and reload to
    identical candidate sets and search results."""
    from garamond_jl_spark.operators.ann import ann_ivf_search  # noqa: F401
    centers, mat = _clustered(per=12)
    dv = _long(spark, mat)
    qv = [(i + 1, float(v)) for i, v in enumerate(mat[4])]

    lsh = LSHCandidateIndex.build(dv, n_planes=6, radius=1, seed=0)
    lsh.save(str(tmp_path / "lsh"))
    lsh2 = LSHCandidateIndex.load(spark, str(tmp_path / "lsh"))
    assert _cand(lsh2, qv) == _cand(lsh, qv)

    ivf = IVFCandidateIndex.build(dv, n_centroids=8, n_probe=2,
                                  n_iter=3, seed=0)
    ivf.save(str(tmp_path / "ivf"))
    ivf2 = IVFCandidateIndex.load(spark, str(tmp_path / "ivf"))
    assert ivf2.probe_cids(qv) == ivf.probe_cids(qv)
    assert _cand(ivf2, qv) == _cand(ivf, qv)

    adc = IVFADCIndex.build(dv, dim=16, n_centroids=8, m=4, n_codes=16,
                            n_probe=2, n_iter=3, seed=0)
    adc.save(str(tmp_path / "adc"))
    adc2 = IVFADCIndex.load(spark, str(tmp_path / "adc"))
    want = [(r["doc_id"], r["rank"])
            for r in adc.search(dv, qv, k=5).collect()]
    got = [(r["doc_id"], r["rank"])
           for r in adc2.search(dv, qv, k=5).collect()]
    assert got == want
    assert adc2.memory_stats()["compression_ratio"] == 64.0

    with pytest.raises(ValueError, match="holds a"):
        IVFCandidateIndex.load(spark, str(tmp_path / "lsh"))


def test_loaded_index_batch_probe_prunes_partitions(spark, tmp_path):
    """A loaded LSH / IVF / IVFADC index reads only the probed
    partitions: the batch probe cuts its bucket / list table with a
    static ``isin`` before the broadcast join, so the executed plan's
    FileScan carries an ``IN`` partition filter over exactly the
    batch's probed buckets / cids (Spark plans no dynamic pruning
    against a LocalRelation build side, so without the cut every file
    is scanned)."""
    import re
    _, mat = _clustered(per=12)
    dv = _long(spark, mat)
    qv_map = {0: [(i + 1, float(v)) for i, v in enumerate(mat[4])],
              1: [(i + 1, float(v)) for i, v in enumerate(mat[60])]}

    def partition_in_list(df, col):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert filters, plan
        # Spark prints IN (…) for short lists and INSET … above 10 values
        lists = {tuple(sorted(int(v) for v in re.findall(r"-?\d+",
                                                         m[0] or m[1])))
                 for f in filters
                 for m in re.findall(col + r"#\d+L? (?:IN \(([^)]*)\)"
                                     r"|INSET ((?:-?\d+(?:, )?)+))", f)}
        assert len(lists) == 1, filters
        return list(lists.pop())

    lsh = LSHCandidateIndex.build(dv, n_planes=6, radius=1, seed=0)
    lsh.save(str(tmp_path / "lsh"))
    lsh2 = LSHCandidateIndex.load(spark, str(tmp_path / "lsh"))
    want = sorted({lsh2.query_bucket(qv) ^ m for qv in qv_map.values()
                   for m in lsh2._masks})
    assert partition_in_list(lsh2.candidates_batch(qv_map),
                             "bucket") == want

    ivf = IVFCandidateIndex.build(dv, n_centroids=8, n_probe=2,
                                  n_iter=3, seed=0)
    ivf.save(str(tmp_path / "ivf"))
    ivf2 = IVFCandidateIndex.load(spark, str(tmp_path / "ivf"))
    want = sorted({c for qv in qv_map.values()
                   for c in ivf2.probe_cids(qv)})
    assert len(want) < 8                    # the cut really prunes
    assert partition_in_list(ivf2.candidates_batch(qv_map), "cid") == want

    adc = IVFADCIndex.build(dv, dim=16, n_centroids=8, m=4, n_codes=16,
                            n_probe=2, n_iter=3, seed=0)
    adc.save(str(tmp_path / "adc"))
    adc2 = IVFADCIndex.load(spark, str(tmp_path / "adc"))
    want = sorted({c for qv in qv_map.values()
                   for c in adc2.ivf.probe_cids(qv)})
    assert partition_in_list(adc2.candidates_batch(qv_map, rerank=20),
                             "cid") == want


def test_dense_recall_contract_lsh_env(spark, sf_dir):
    """The dense recall contract (DenseVectorSearcher docstring) on the
    LSH-backed parity env: every candidate scores as in the full scan,
    so the merged ranking equals the full-scan env's wherever the probe
    ball holds the full-scan top-k — at sf0.01, for both batched
    requests.  At sf0.001 it does not: the ball of request 1 misses
    doc 325, the full scan's rank 1, which falls to the fill; the rest
    move up one rank and doc 319 enters at rank 7.  A change to the
    probe ball or to candidate scoring moves this pin."""
    import copy
    import os

    from garamond_jl_spark.plans.lifecycle import (InternalRequest,
                                                   SearchEnv, search_many)
    from garamond_jl_spark.plans.testdata_queries import (_SM_REQS,
                                                          _mixed_boe_env)
    reqs = [InternalRequest(query=q, max_matches=k, tiebreak_round=6)
            for q, k in _SM_REQS]

    def ranks(env):
        out: dict = {}
        for r in search_many(env, reqs).collect():
            out.setdefault(r["request_id"], []).append(
                (r["rank"], r["doc_id"]))
        return {q: sorted(v) for q, v in out.items()}

    def lsh_and_full(sf):
        env = _mixed_boe_env(spark, os.path.join(os.path.dirname(sf_dir),
                                                 sf))
        ann = env.searchers[0][0]
        full = copy.copy(ann)
        full.candidate_index = None
        env_full = SearchEnv(spark=spark, index=env.index, score_weight=0.8,
                             searchers=[(full, 0.8)], aggregation="mean")
        return ranks(env), ranks(env_full), ann

    got, want, _ = lsh_and_full("sf0.01")
    assert sorted(want) == [0, 1]
    assert got == want

    got, want, ann = lsh_and_full("sf0.001")
    assert got[0] == want[0]
    assert want[1][0] == (1, 325)
    assert got[1] == [(r - 1, d) for r, d in want[1][1:]] + [(7, 319)]
    qv = [(int(r["i"]), float(r["qv"]))
          for r in ann.embed_query(spark, _SM_REQS[1][0]).collect()]
    assert 325 not in _cand(ann.candidate_index, qv)


def test_candidate_index_extend(spark):
    """M1 push! analog for ANN structures: extending an index with
    appended docs' embeddings equals a full rebuild under the same
    (frozen) quantizer/hyperplanes."""
    _, mat = _clustered(per=12)
    half = mat.shape[0] // 2
    dv_a = _long(spark, mat[:half])
    dv_b = spark.createDataFrame(
        [(int(d + half), int(i) + 1, float(v))
         for d, vec in enumerate(mat[half:]) for i, v in enumerate(vec)],
        "doc_id LONG, i INT, dv DOUBLE")
    dv_full = _long(spark, mat)
    qv = [(i + 1, float(v)) for i, v in enumerate(mat[2])]

    lsh_full = LSHCandidateIndex.build(dv_full, n_planes=6, radius=1,
                                       seed=0)
    lsh_ext = LSHCandidateIndex.build(dv_a, n_planes=6, radius=1,
                                      seed=0).extend(dv_b)
    assert _cand(lsh_ext, qv) == _cand(lsh_full, qv)

    ivf_a = IVFCandidateIndex.build(dv_a, n_centroids=4, n_probe=2,
                                    n_iter=3, seed=0)
    cent_df = spark.createDataFrame(
        [(c, i, v) for c, comp in ivf_a._cent.items()
         for i, v in comp.items()], "cid INT, i INT, cv DOUBLE")
    ivf_full = IVFCandidateIndex.build(dv_full, centroids=cent_df,
                                       n_probe=2)
    ivf_ext = ivf_a.extend(dv_b)
    assert _cand(ivf_ext, qv) == _cand(ivf_full, qv)


def test_packed_batch_matches_long_form_batch(spark):
    """sparse_hits_batch honors packed storage (regression: it used to
    silently fall back to the long-form join scorer): the batched
    packed matmul returns the same (query_id, doc_id, score) set as the
    long-form batch plan, with and without a candidate index, and a
    narrow (trailing-zero-omitting) query embedding width-pads."""
    from pyspark.sql import SparkSession
    from garamond_jl_spark.operators.semantic import DenseVectorSearcher

    _, mat = _clustered(per=15)
    dv = _long(spark, mat)
    qvecs = {0: [(i + 1, float(v)) for i, v in enumerate(mat[3])],
             1: [(i + 1, float(v)) for i, v in enumerate(mat[40])],
             2: [(i + 1, float(v)) for i, v in enumerate(mat[77])][:9]}

    class _FQ(DenseVectorSearcher):
        def embed_query(self, spark: SparkSession, query):
            return spark.createDataFrame(qvecs[int(query)],
                                         "i INT, qv DOUBLE")

    queries = ["0", "1", "2"]

    def _collect(searcher):
        hits, emb = searcher.sparse_hits_batch(spark, queries)
        return ({(r["query_id"], r["doc_id"]): r["score"]
                 for r in hits.collect()},
                {r["query_id"] for r in emb.collect()})

    want, want_emb = _collect(_FQ(dv))
    got, got_emb = _collect(_FQ(dv).with_packed_storage(16, persist=False))
    assert got_emb == want_emb == {0, 1, 2}
    assert set(got) == set(want)
    for kdq, s in want.items():
        assert got[kdq] == pytest.approx(s, abs=1e-12), kdq

    # with a candidate index: identical per-pair scores on a strict
    # per-query candidate subset (not the union of all queries' sets)
    lw, _ = _collect(_FQ(dv).with_candidate_index(
        "lsh", n_planes=6, radius=1, seed=0))
    pw, _ = _collect(_FQ(dv).with_packed_storage(16, persist=False)
                     .with_candidate_index("lsh", n_planes=6, radius=1,
                                           seed=0))
    assert set(pw) == set(lw)
    assert 0 < len(pw) < len(want)
    for kdq, s in pw.items():
        assert s == pytest.approx(want[kdq], abs=1e-12), kdq


def test_arrow_pq_codes_match_join(spark):
    """assign_pq_arrow (map-only residual PQ coding) produces the
    identical (doc_id, cid, sub, code) table as the join-shaped
    _pq_assign inside IVFADCIndex.build — same trained quantizers
    (same input/seed), only the assignment plan differs."""
    _, mat = _clustered(per=20)
    dv = _long(spark, mat)
    packed = spark.createDataFrame(
        [(int(d), [float(x) for x in vec]) for d, vec in enumerate(mat)],
        "doc_id LONG, emb ARRAY<DOUBLE>")
    kw = dict(dim=16, n_centroids=8, m=4, n_codes=16, n_probe=2,
              n_iter=3, seed=0, persist=False)
    a = IVFADCIndex.build(dv, **kw)
    b = IVFADCIndex.build(dv, packed=packed, **kw)
    key = ["doc_id", "cid", "sub", "code"]
    want = sorted(tuple(r[c] for c in key) for r in a.codes.collect())
    got = sorted(tuple(r[c] for c in key) for r in b.codes.collect())
    assert got == want
    # and the ADC search path answers identically on top of either
    qv = [(i + 1, float(v)) for i, v in enumerate(mat[5])]
    ra = [r["doc_id"] for r in a.search(dv, qv, k=10).collect()]
    rb = [r["doc_id"] for r in b.search(dv, qv, k=10).collect()]
    assert ra == rb


def test_ivfadc_sampled_map_only_build_recall(spark):
    """The at-scale build shape — hash-sampled trainers + BOTH
    full-corpus assignment passes as mapInArrow kernels — still holds
    recall@10 ≥ 0.9 on clustered data."""
    _, mat = _clustered(per=40)
    dv = _long(spark, mat)
    packed = spark.createDataFrame(
        [(int(d), [float(x) for x in vec]) for d, vec in enumerate(mat)],
        "doc_id LONG, emb ARRAY<DOUBLE>")
    idx = IVFADCIndex.build(dv, dim=16, n_centroids=8, m=4, n_codes=16,
                            n_probe=2, n_iter=4, seed=0,
                            sample_ratio=0.5, packed=packed,
                            persist=False)
    recalls = []
    for q in (0, 45, 130):
        qv = [(i + 1, float(v)) for i, v in enumerate(mat[q])]
        got = [r["doc_id"] for r in idx.search(dv, qv, k=11).collect()
               if r["doc_id"] != q][:10]
        want = _exact_topk(mat, q, 10)
        recalls.append(len(set(want) & set(got)) / 10)
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_dense_searcher_ivfadc_backed_matches_exact(spark):
    """search_index=ivfadc end-to-end: a BOE searcher with the FULL
    IVFADC structure attached (coarse lists + PQ/ADC ordering before
    the exact rerank — searcher.jl:120-125 + ivfadc.jl) answers the
    mixed-env request identically to the full-scan searcher, single
    and batched; a query's candidates do not depend on its
    batch-mates."""
    from garamond_jl_spark.config import EngineConfig
    from garamond_jl_spark.operators.build import build_index
    from garamond_jl_spark.operators.semantic import (
        BOESearcher, synthetic_word_vectors)
    from garamond_jl_spark.plans.lifecycle import (InternalRequest,
                                                   SearchEnv, search_many)
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

    ann = BOESearcher.from_tokens(tf, wv, score_alpha=0.4) \
        .with_candidate_index("ivfadc", n_centroids=4, m=4, n_codes=16,
                              n_probe=4, n_iter=3, seed=0)
    assert ann.candidate_index.dim == 16          # derived from embeddings
    env_a = SearchEnv(spark=spark, index=idx, score_weight=0.8,
                      searchers=[(ann, 0.8)], aggregation="mean")
    got = sorted(lsearch(env_a, req).collect(), key=lambda r: r["rank"])
    assert [(r["doc_id"], r["rank"]) for r in got] == \
        [(r["doc_id"], r["rank"]) for r in want]
    for a, b in zip(got, want):
        assert a["score"] == pytest.approx(b["score"], abs=1e-12)

    # batched path through candidates_batch
    reqs = [req, InternalRequest(query="window merge", max_matches=5,
                                 tiebreak_round=6)]
    many = search_many(env_a, reqs).collect()
    single0 = {(r["doc_id"], r["rank"]) for r in got}
    got0 = {(r["doc_id"], r["rank"]) for r in many
            if r["request_id"] == 0}
    assert got0 == single0

    # a query's candidates do not depend on its batch-mates: the
    # per-query rerank cut of a two-query batch ≡ the batch of one
    qv_rows, qv_other = (
        [(int(r["i"]), float(r["qv"]))
         for r in ann.embed_query(spark, q).collect()]
        for q in ("spark join data", "window merge"))
    solo = _cand(ann.candidate_index, qv_rows, rerank=50)
    batch = {r["doc_id"] for r in
             ann.candidate_index.candidates_batch({0: qv_rows, 1: qv_other},
                                                  rerank=50).collect()
             if r["query_id"] == 0}
    assert len(solo) == 50
    assert batch == solo


def test_ivfadc_extend_frozen_quantizers(spark):
    """IVFADCIndex.extend: appended docs are list-assigned AND PQ-coded
    against the frozen quantizers in one pass over the new rows — the
    arrow-kernel and join-shaped variants produce identical codes, old
    codes are untouched, and the extended index finds appended docs."""
    _, mat = _clustered(per=12)
    half = mat.shape[0] // 2
    dv_a = _long(spark, mat[:half])
    dv_b = spark.createDataFrame(
        [(int(d + half), int(i) + 1, float(v))
         for d, vec in enumerate(mat[half:]) for i, v in enumerate(vec)],
        "doc_id LONG, i INT, dv DOUBLE")
    packed_b = spark.createDataFrame(
        [(int(d + half), [float(x) for x in vec])
         for d, vec in enumerate(mat[half:])],
        "doc_id LONG, emb ARRAY<DOUBLE>")
    base = IVFADCIndex.build(dv_a, dim=16, n_centroids=4, m=4,
                             n_codes=16, n_probe=2, n_iter=3, seed=0,
                             persist=False)
    key = ["doc_id", "cid", "sub", "code"]
    old = sorted(tuple(r[c] for c in key) for r in base.codes.collect())

    ext_j = base.extend(dv_b)
    ext_a = base.extend(dv_b, packed=packed_b)
    cj = sorted(tuple(r[c] for c in key) for r in ext_j.codes.collect())
    ca = sorted(tuple(r[c] for c in key) for r in ext_a.codes.collect())
    assert cj == ca                               # arrow ≡ join coding
    assert [t for t in cj if t[0] < half] == old  # old codes untouched
    assert {t[0] for t in cj} == set(range(mat.shape[0]))

    dv_full = _long(spark, mat)
    q = half + 3
    qv = [(i + 1, float(v)) for i, v in enumerate(mat[q])]
    got = [r["doc_id"] for r in
           ext_j.search(dv_full, qv, k=3, rerank=60).collect()]
    assert q in got                               # appended doc found


def test_lsh_bucket_exact_past_double_precision(spark):
    """Spark's bucket must equal the exact Python int query_bucket for
    n_planes beyond double precision (p > 52): the old 2.0**p double
    sum rounded high-plane bits and silently missed the doc's bucket."""
    _, mat = _clustered(per=4, n_clusters=3)
    dv = _long(spark, mat)
    idx = LSHCandidateIndex.build(dv, n_planes=56, radius=0, seed=0,
                                  persist=False)
    got = {r["doc_id"]: r["bucket"] for r in idx.buckets.collect()}
    for d in (0, 5, 11):
        qv = [(i + 1, float(v)) for i, v in enumerate(mat[d])]
        assert got[d] == idx.query_bucket(qv)
    with pytest.raises(ValueError, match="n_planes"):
        LSHCandidateIndex.build(dv, n_planes=63, persist=False)


def test_lsh_parity_key_query_bucket_matches_table(spark):
    """Under the parity key (``seed=None``, md5('{p}:{i}')) the
    driver-side query bucket equals ``lsh_buckets``' Spark-side bucket
    for every vector — the agreement ann_lsh_search's probe rests on
    (its query buckets are driver math, its doc buckets a plan)."""
    _, mat = _clustered(per=10)
    dv = _long(spark, mat)
    for n_planes in (6, 8):
        idx = LSHCandidateIndex(lsh_buckets(dv, n_planes, seed=None),
                                n_planes, radius=0, seed=None)
        got = {r["doc_id"]: r["bucket"] for r in idx.buckets.collect()}
        want = {d: idx.query_bucket([(i + 1, float(v))
                                     for i, v in enumerate(vec)])
                for d, vec in enumerate(mat)}
        assert got == want
        assert len(set(got.values())) > 1


def test_cent_matrix_explicit_dim_beats_inference():
    from garamond_jl_spark.operators.ann import _cent_matrix
    # top dimension absent from every centroid row: inference
    # under-sizes the matrix; the explicit dim keeps the true width
    rows = [(0, 1, 1.0), (0, 2, 2.0), (1, 1, 3.0)]
    assert len(_cent_matrix(rows)[0]) == 2
    M = _cent_matrix(rows, dim=4)
    assert len(M[0]) == 4 and M[0][1] == 2.0 and M[1][3] == 0.0


def test_train_pq_rejects_degenerate_codebook(spark):
    from garamond_jl_spark.operators.ann import train_pq
    resid = spark.createDataFrame([(0, 1, 0.5)],
                                  "doc_id LONG, i INT, rv DOUBLE")
    with pytest.raises(ValueError, match="n_codes"):
        train_pq(resid, dim=4, m=2, n_codes=1)
