"""LLM-data-pipeline operators: ANN search quality on structured data,
SimHash near-dup behavior, language-ID accuracy on real multilingual
text (the parity gate proves determinism; these prove usefulness)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from garamond_jl_spark.operators.ann import ann_lsh_search


def _long_form(spark, mat):
    rows = [(int(vid), int(i) + 1, float(v))
            for vid, vec in enumerate(mat) for i, v in enumerate(vec)]
    return spark.createDataFrame(rows, "vec_id LONG, i INT, v DOUBLE")


def test_ann_clustered_recall(spark):
    """On clustered embeddings (the realistic case — real corpora
    cluster) multiprobe LSH keeps high recall while scanning a fraction
    of the corpus.  Uniform-random vectors are the adversarial case and
    are measured separately in BENCH.md."""
    rng = np.random.default_rng(7)
    n_clusters, per, dim = 20, 25, 16
    centers = rng.normal(size=(n_clusters, dim)) * 3.0
    mat = np.vstack([c + rng.normal(size=(per, dim)) * 0.3 for c in centers])
    u = _long_form(spark, mat)
    query_ids = [0, 25, 50, 250]
    k = 10
    got = ann_lsh_search(u, query_ids, k).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    recalls = []
    for qid in query_ids:
        cos = norm @ norm[qid]
        cos[qid] = -2.0
        order = sorted(range(len(cos)),
                       key=lambda i: (-round(cos[i], 6), i))[:k]
        recalls.append(len(set(order) & set(by_q.get(qid, []))) / k)
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_ivf_clustered_recall(spark):
    """IVF ANN (trained-quantizer path): with the true cluster centers
    as the coarse quantizer and 2 probes, recall on clustered
    embeddings stays high while scanning ~2/20 of the lists."""
    from garamond_jl_spark.operators.ann import ann_ivf_search
    rng = np.random.default_rng(7)
    n_clusters, per, dim = 20, 25, 16
    centers = rng.normal(size=(n_clusters, dim)) * 3.0
    mat = np.vstack([c + rng.normal(size=(per, dim)) * 0.3 for c in centers])
    u = _long_form(spark, mat)
    cent = spark.createDataFrame(
        [(int(c), int(i) + 1, float(v)) for c, vec in enumerate(centers)
         for i, v in enumerate(vec)], "cid LONG, i INT, cv DOUBLE")
    query_ids = [0, 25, 50, 250]
    k = 10
    got = ann_ivf_search(u, query_ids, k, n_centroids=n_clusters,
                         n_probe=2, centroids=cent).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    recalls = []
    for qid in query_ids:
        cos = norm @ norm[qid]
        cos[qid] = -2.0
        order = sorted(range(len(cos)),
                       key=lambda i: (-round(cos[i], 6), i))[:k]
        recalls.append(len(set(order) & set(by_q.get(qid, []))) / k)
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_embedding_cosine_dedup_recall_injected(spark):
    """Multiprobe pair recall (the round-2 gap: a true near-dup pair
    split by ONE hyperplane was missed by the same-bucket join).  Inject
    near-identical vector pairs (cos > 0.95) into background noise and
    require >=0.99 recall at tau=0.95 from the DEFAULT probe radius."""
    from garamond_jl_spark.plans.pipeline_queries import \
        embedding_cosine_pairs
    rng = np.random.default_rng(11)
    dim, n_bg, n_pairs = 16, 300, 120
    bg = rng.normal(size=(n_bg, dim))
    base = rng.normal(size=(n_pairs, dim))
    # tiny perturbation => cosine ~0.997+, the near-identical regime
    twin = base + rng.normal(size=(n_pairs, dim)) * 0.03
    mat = np.vstack([bg, base, twin])
    u = _long_form(spark, mat)
    got = {(r["vec_a"], r["vec_b"])
           for r in embedding_cosine_pairs(u, threshold=0.95).collect()}
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    want = set()
    for j in range(n_pairs):
        a, b = n_bg + j, n_bg + n_pairs + j
        if float(norm[a] @ norm[b]) >= 0.95:
            want.add((a, b))
    assert len(want) >= 100            # the injection actually qualifies
    hit = len(want & got)
    assert hit / len(want) >= 0.99, (hit, len(want))
    # no false positives: every reported pair truly clears tau
    for a, b in got:
        assert float(norm[a] @ norm[b]) >= 0.95 - 1e-9


def test_ann_search_rank_matches_exact_on_candidates(spark):
    """Within its candidate set the LSH rerank is EXACT: every returned
    neighbor's cosine matches the NumPy value and ranks descend."""
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(80, 8))
    u = _long_form(spark, mat)
    got = sorted(ann_lsh_search(u, [3], 5).collect(),
                 key=lambda r: r["rnk"])
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    for r in got:
        expect = float(norm[3] @ norm[r["vec_id"]])
        assert abs(r["cos_e6"] / 1e6 - expect) < 2e-6
    assert [r["rnk"] for r in got] == list(range(1, len(got) + 1))


def _needs_no_checkpoint_call(spark, sf, op):
    """A zero-argument call of ``op``; its inputs (an index build
    persists tables) are made before the call is measured."""
    from garamond_jl_spark.config import EngineConfig
    from garamond_jl_spark.corpus import corpus_df
    from garamond_jl_spark.operators.build import build_index
    from garamond_jl_spark.operators.query import search
    from garamond_jl_spark.plans import pipeline_queries as P
    from garamond_jl_spark.session import local_frame
    rng = np.random.default_rng(5)
    rows = [(int(vid), int(i) + 1, float(v))
            for vid, vec in enumerate(rng.normal(size=(60, 8)))
            for i, v in enumerate(vec)]
    u = local_frame(spark, rows, "vec_id LONG, i INT, v DOUBLE")
    if op == "ann_lsh_search":
        return lambda: ann_lsh_search(u, [0, 1], 5)
    if op == "embedding_cosine_pairs":
        return lambda: P.embedding_cosine_pairs(u)
    if op == "search_impact":
        idx = build_index(spark, corpus_df(spark, 300, seed=42,
                                           partitions=4),
                          EngineConfig(), id_col=None)
        idx.postings.count()        # fills the build's lazy caches
        return lambda: search(spark, idx, ["main run", "free_4 decode_7"],
                              k=5, plan="impact")
    return lambda: getattr(P, op)(spark, sf)


# operator → result rows on its inputs in _needs_no_checkpoint_call
NO_CHECKPOINT_ROWS = {"ann_lsh_search": 10, "dedup_minhash_lsh": 28,
                      "dedup_simhash_pairs": 24,
                      "embedding_cosine_pairs": 80, "search_impact": 10}


@pytest.mark.parametrize("op", list(NO_CHECKPOINT_ROWS))
def test_operator_needs_no_checkpoint(spark, tiny_sf_dir, op):
    """An operator returns a lazy plan or a ``local_frame``: after
    collect() its analyzed plan holds no LogicalRDD leaf (what a
    localCheckpoint leaves behind) and the call persisted no RDD."""
    call = _needs_no_checkpoint_call(spark, tiny_sf_dir, op)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = call()
    assert len(out.collect()) == NO_CHECKPOINT_ROWS[op]
    assert "LogicalRDD" not in out._jdf.queryExecution().analyzed() \
        .toString()
    assert set(jsc.getPersistentRDDs().keySet().toArray()) == before


def _collected_final_plan(df) -> str:
    """``df.collect()``, then its AQE-final physical plan as text."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]


def test_simhash_pairs_evaluates_signature_once(spark, tiny_sf_dir):
    """Both sides of the band self-join read one exchange, so the
    executed plan runs the mapInArrow SimHash pass once."""
    from garamond_jl_spark.plans.pipeline_queries import dedup_simhash_pairs
    final = _collected_final_plan(dedup_simhash_pairs(spark, tiny_sf_dir))
    assert final.count("MapInArrow") == 1, final


def test_minhash_lsh_evaluates_shingles_once(spark, tiny_sf_dir):
    """The signature, the two verify sides and the two set sizes read
    one exchange above the distinct shingles, so the executed plan
    runs the shingle Window once (once per consumer without it)."""
    from garamond_jl_spark.plans.pipeline_queries import dedup_minhash_lsh
    final = _collected_final_plan(dedup_minhash_lsh(spark, tiny_sf_dir))
    assert final.count("Window [") == 1, final


def _classes_compiled(spark) -> int:
    """Generated classes this JVM has compiled so far (codegen cache
    misses)."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def test_warm_calls_compile_nothing(spark, tiny_sf_dir):
    """A repeated round of near-dup operators finds every generated
    class in the codegen cache: the cache holds the working set rather
    than cycling it through an LRU smaller than one round."""
    from garamond_jl_spark.plans import pipeline_queries as P
    ops = (P.dedup_minhash_lsh, P.dedup_simhash_pairs, P.ann_lsh_topk)
    compiled = []
    for _ in range(2):
        before = _classes_compiled(spark)
        for op in ops:
            assert op(spark, tiny_sf_dir).collect()
        compiled.append(_classes_compiled(spark) - before)
    assert compiled[1] == 0, compiled


def test_lang_id_accuracy_multilingual(spark):
    """The trigram-profile detector must classify real sentences in the
    five testdata languages, return 'und' for gibberish, and 'zh' via
    script detection."""
    from garamond_jl_spark.plans.pipeline_queries import _lang_id_df
    samples = [
        (0, "the cat sat on the mat and it was happy with this one", "en"),
        (1, "der hund ist nicht mit der katze und sie haben ein haus", "de"),
        (2, "le chien est dans la maison avec les enfants pour vous", "fr"),
        (3, "el perro está en la casa con los niños para que este bien", "es"),
        (4, "我们的朋友是一个好人他们了解这个世界", "zh"),
        (5, "xqzk vbnmp fjrd glorp zzyx", "und"),
        (6, "and they were there when all of this had not been done", "en"),
        (7, "nous sommes très heureux avec cette maison mais pas tout", "fr"),
    ]
    d = spark.createDataFrame([(i, t) for i, t, _ in samples],
                              "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["pred_lang"] for r in _lang_id_df(d).collect()}
    expect = {i: lang for i, _, lang in samples}
    hits = sum(got[i] == expect[i] for i in expect)
    assert hits == len(samples), (got, expect)


def test_simhash_pairs_agree_with_minhash(spark):
    """The 64-bit SimHash near-dup pairs should substantially overlap
    the MinHash (Jaccard ≥ 0.8) ground truth on the testdata."""
    from garamond_jl_spark.plans.pipeline_queries import (dedup_minhash_lsh,
                                                          dedup_simhash_pairs)
    sf = "/root/testdata/sf0.01"
    mh = {(r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf).collect()}
    sh = {(r["doc_a"], r["doc_b"]) for r in dedup_simhash_pairs(spark, sf).collect()}
    assert len(sh & mh) / max(len(mh), 1) >= 0.5  # recall vs jaccard truth
    assert len(sh & mh) / max(len(sh), 1) >= 0.5  # precision


def test_simhash_sign_cache_eviction_keeps_signatures(spark, monkeypatch):
    """The per-task SimHash sign memo evicts its oldest half at the cap;
    a tiny cap (constant eviction) must leave every signature as is."""
    import garamond_jl_spark.plans.pipeline_queries as P
    sf = "/root/testdata/sf0.01"

    def rows():
        return sorted(tuple(r) for r in P.dedup_simhash64(spark, sf).collect())

    want = rows()
    monkeypatch.setattr(P, "_SIMHASH_SIGN_CACHE_CAP", 4)
    assert rows() == want and want


def test_boe_rank_identity_vs_numpy(spark):
    """BOE top-k rank identity vs a NumPy oracle implementing the same
    reference semantics (boe.jl sum-of-word-vectors, cosine knn):
    identical ids, scores within 1e-9."""
    from garamond_jl_spark.corpus import corpus_df
    from garamond_jl_spark.operators.semantic import (
        boe_topk, synthetic_word_vectors, word_vector_component)

    docs = [(r["doc_id"], r["content"]) for r in
            corpus_df(spark, 120, seed=5, partitions=2)
            .withColumn("doc_id", F.monotonically_increasing_id())
            .select("doc_id", "content").collect()]
    d = spark.createDataFrame(docs, "doc_id LONG, content STRING")
    tok = (d.select("doc_id", F.explode(F.split("content", " ")).alias("term"))
           .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dim, seed, k = 16, 0, 8
    wv = synthetic_word_vectors(tf.select("term"), dim=dim, seed=seed)

    # NumPy oracle
    vocab = sorted({t for _, text in docs for t in text.split(" ") if t})
    vecs = {t: np.array([word_vector_component(t, i, seed)
                         for i in range(1, dim + 1)]) for t in vocab}

    def np_topk(query):
        qtoks = [t for t in query.split(" ") if t and t in vecs]
        if not qtoks:
            return []
        qv = np.sum([vecs[t] for t in qtoks], axis=0)
        nq = np.linalg.norm(qv)
        out = []
        for did, text in docs:
            toks = [t for t in text.split(" ") if t in vecs]
            if not toks:
                continue
            dv = np.sum([vecs[t] for t in toks], axis=0)
            out.append((did, float(dv @ qv / (np.linalg.norm(dv) * nq))))
        out.sort(key=lambda x: (-round(x[1], 9), x[0]))
        return out[:k]

    for query in ["main run data", "free_4 decode_7", "get set value",
                  "zzz_oov_only"]:
        got = sorted(boe_topk(spark, tf, wv, query, k=k,
                              tiebreak_round=9).collect(),
                     key=lambda r: r["rank"])
        expect = np_topk(query)
        assert [r["doc_id"] for r in got] == [d_ for d_, _ in expect], query
        for r, (_, s) in zip(got, expect):
            assert abs(r["score"] - s) < 1e-9, (query, r, s)


def test_textrank_summary_goldens():
    from garamond_jl_spark.functions.summarize import (pagerank,
                                                       split_sentences,
                                                       textrank_summary)
    import numpy as np
    # hub sentence (shares vocab with everything) must rank first
    sents = ["alpha beta gamma delta", "alpha beta other words here",
             "gamma delta more tokens now", "unrelated zz qq ww vv"]
    got = textrank_summary(sents, ns=1)
    assert got == ["alpha beta gamma delta"]
    # ns >= n returns all usable sentences, document order kept
    assert textrank_summary(sents, ns=10) == sents
    # degenerate inputs pass through (reference catch branch)
    assert textrank_summary(["...", "!!!"], ns=1) == ["...", "!!!"]
    assert textrank_summary([], ns=1) == []
    # pagerank: symmetric star graph — hub gets the highest mass
    adj = np.array([[0, 1, 1, 1], [1, 0, 0, 0],
                    [1, 0, 0, 0], [1, 0, 0, 0]], dtype=float)
    p = pagerank(adj)
    assert p[0] == max(p) and abs(p.sum() - 1.0) < 1e-6
    assert split_sentences("One two. Three four! Five?") == \
        ["One two.", "Three four!", "Five?"]


def test_summarize_docs_spark(spark):
    from garamond_jl_spark.functions.summarize import summarize_docs
    d = spark.createDataFrame(
        [(1, "alpha beta gamma. alpha beta said more. gamma went on. "
             "nothing related here at all."),
         (2, "solo sentence only")],
        "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["summary"] for r in
           summarize_docs(d, ns=1).collect()}
    assert got[1] == ["alpha beta gamma."]
    assert got[2] == ["solo sentence only"]


def test_loader_sampler_registries(spark):
    """S3: loaders/samplers resolve by name with safe fallbacks, like
    rankers/recommenders (reference custom-symbol dispatch)."""
    from garamond_jl_spark.plugins import (get_loader, get_sampler,
                                           register_sampler)
    assert get_loader("noop_loader")(spark).count() == 0
    assert get_loader(None).__name__ == "parquet_loader"
    assert get_loader("nonexistent").__name__ == "parquet_loader"

    @register_sampler("first_two")
    def first_two(df):
        return df.limit(2)

    d = spark.range(10)
    assert get_sampler("first_two")(d).count() == 2
    assert get_sampler(None)(d).count() == 10  # identity fallback


def test_probe_masks_honor_radius():
    """radius=0 is the plain same-bucket join, radius=3 probes the
    full Hamming-3 ball (the old version forced Hamming-1 in and
    silently capped at 2)."""
    from garamond_jl_spark.operators.ann import probe_masks
    from garamond_jl_spark.plans.pipeline_queries import (
        ANN_PLANES, ANN_PROBE_RADIUS, ORACLES)
    assert probe_masks(6, 0) == [0]
    r1 = probe_masks(6, 1)
    assert sorted(r1) == [0, 1, 2, 4, 8, 16, 32]
    import math
    assert len(probe_masks(6, 2)) == 1 + 6 + math.comb(6, 2)
    assert len(probe_masks(6, 3)) == 1 + 6 + math.comb(6, 2) + \
        math.comb(6, 3)
    # all masks unique and within the plane width
    m3 = probe_masks(6, 3)
    assert len(set(m3)) == len(m3) and max(m3) < 2 ** 6
    # combination order (by weight, then bit combination), as the
    # frozen ann_lsh_topk oracle SQL lists them; that SQL is generated
    # from probe_masks, so the literal is what pins the order
    import re
    line = next(ln for ln in ORACLES["ann_lsh_topk"].splitlines()
                if ln.startswith("masks(m) AS (VALUES"))
    listed = [int(v) for v in re.findall(r"\((\d+)\)", line)]
    assert probe_masks(ANN_PLANES, ANN_PROBE_RADIUS) == listed == [
        0, 1, 2, 4, 8, 16, 32, 3, 5, 9, 17, 33, 6, 10, 18, 34, 12, 20,
        36, 24, 40, 48]


def test_ann_lsh_topk_rejects_ragged_embedding_widths(spark, tmp_path):
    """The embedding width is validated where the table is loaded: a
    ragged table raises instead of sizing the hyperplanes by one row
    and silently dropping the other rows' extra dimensions."""
    from garamond_jl_spark.plans.pipeline_queries import ann_lsh_topk

    def write(sf, rows):
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>") \
            .write.parquet(str(tmp_path / sf / "embeddings.parquet"))
        return str(tmp_path / sf)

    ragged = write("ragged", [(0, [1.0, 0.0]), (1, [0.5, 0.5, 0.5]),
                              (2, [0.0, 1.0])])
    with pytest.raises(ValueError, match="ragged embeddings"):
        ann_lsh_topk(spark, ragged)
    even = write("even", [(0, [1.0, 0.0]), (1, [0.5, 0.5]),
                          (2, [0.0, 1.0])])
    got = {(r["query_id"], r["vec_id"]) for r in
           ann_lsh_topk(spark, even).collect()}
    assert got <= {(a, b) for a in range(3) for b in range(3) if a != b}
