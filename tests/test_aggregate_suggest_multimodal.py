"""A6 aggregation strategies, F10 suggestions, multimodal plumbing."""

import numpy as np
import pytest

from garamond_jl_spark.functions.suggest import missing_needles, suggest_terms
from garamond_jl_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                    chunk_split_fn,
                                                    deterministic_fake_decoder,
                                                    extract_features,
                                                    sample_frames)
from garamond_jl_spark.session import local_frame


class _FixedSearcher:
    """A searcher with fixed hits — ``per_query[q]`` lists query q's
    (doc_id, score) pairs — through the ``sparse_hits_batch`` /
    ``fill_score`` interface the merge reads."""

    def __init__(self, *per_query, fill=0.0):
        self.per_query, self.fill = per_query, fill

    def sparse_hits_batch(self, spark, queries):
        hits = local_frame(spark, [(q, d, s)
                                   for q, rows in enumerate(self.per_query)
                                   for d, s in rows],
                           "query_id INT, doc_id LONG, score DOUBLE")
        return hits, local_frame(spark, [(q,) for q in range(len(queries))],
                                 "query_id INT")

    def fill_score(self):
        return self.fill


def _merged(spark, sets, strategy, n_queries=1):
    """{(query_id, doc_id): score} of the lifecycle merge over fixed
    searchers on a 10-doc pool (fills 0.0: the pad drops as zero)."""
    from types import SimpleNamespace

    from garamond_jl_spark.plans.lifecycle import merge
    env = SimpleNamespace(
        spark=spark, aggregation=strategy,
        index=SimpleNamespace(docs=spark.range(10).withColumnRenamed(
            "id", "doc_id")))
    return {(r["query_id"], r["doc_id"]): r["score"] for r in
            merge(env, sets, ["q"] * n_queries, 10, None).collect()}


H1 = [(1, 0.9), (2, 0.5), (3, 0.1)]
H2 = [(1, 0.7), (2, 0.8), (4, 0.4)]


def test_aggregate_mean_weighted(spark):
    """Weights scale each searcher's scores; a doc one searcher missed
    takes that searcher's fill (0.0 here) in the mean."""
    got = _merged(spark, [(_FixedSearcher(H1), 1.0),
                          (_FixedSearcher(H2), 0.5)], "mean")
    assert got[(0, 1)] == pytest.approx((0.9 + 0.35) / 2)
    assert got[(0, 3)] == pytest.approx(0.1 / 2)
    assert got[(0, 4)] == pytest.approx(0.2 / 2)
    assert set(got) == {(0, 1), (0, 2), (0, 3), (0, 4)}   # pad score 0


def test_aggregate_strategies(spark):
    for strat, want1 in [("min", 0.7), ("max", 0.9),
                         ("median", 0.8), ("product", 0.63)]:
        got = _merged(spark, [(_FixedSearcher(H1), 1.0),
                              (_FixedSearcher(H2), 1.0)], strat)
        assert got[(0, 1)] == pytest.approx(want1, abs=1e-9), strat


def test_suggestions(spark):
    terms = spark.createDataFrame(
        [("spark",), ("spork",), ("sprk",), ("query",), ("shark",)],
        "term STRING")
    got = suggest_terms(terms, ["spak"], max_distance=2, max_suggestions=3) \
        .collect()
    rows = sorted(got, key=lambda r: r["rank"])
    assert rows[0]["suggestion"] in ("spark", "sprk")  # distance 1
    assert all(r["distance"] <= 2 for r in rows)
    assert missing_needles(terms, ["spark", "zzz"]) == ["zzz"]


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, "image" if i % 2 == 0 else "video", "application/octet",
             4, 4, 1000, bytes([i] * (1500 + i))) for i in range(6)]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(3)


def test_multimodal_features_deterministic(spark, media):
    dec = deterministic_fake_decoder(dim=8)
    got = {r["media_id"]: r["feature"]
           for r in extract_features(media, dec).collect()}
    assert len(got) == 6 and all(len(v) == 8 for v in got.values())
    # deterministic: same payload bytes → same vector as direct call
    want = dec(bytes([0] * 1500))
    assert np.allclose(got[0], want, atol=1e-6)
    # unit norm
    assert np.linalg.norm(got[3]) == pytest.approx(1.0, abs=1e-5)


def test_multimodal_decode_stub_explicit(media):
    with pytest.raises(NotImplementedError):
        extract_features(media, None)
    with pytest.raises(NotImplementedError):
        sample_frames(media, 40, None)


def test_multimodal_frame_sampling(spark, media):
    frames = sample_frames(media, 40, chunk_split_fn(512)).collect()
    vids = {r["media_id"] for r in frames}
    assert vids == {1, 3, 5}                   # only videos fan out
    per = [r for r in frames if r["media_id"] == 1]
    assert len(per) == 3                        # 1501 bytes / 512 → 3 chunks
    assert sorted(r["frame_idx"] for r in per) == [0, 1, 2]


def test_distance_family_goldens():
    """F10 distance family (defaults.jl:79-84) scalar goldens."""
    from garamond_jl_spark.functions.suggest import (damerau_levenshtein,
                                                     hamming_distance,
                                                     jaro_distance)
    assert damerau_levenshtein("abcd", "acbd") == 1   # one transposition
    assert damerau_levenshtein("kitten", "sitting") == 3
    assert damerau_levenshtein("", "abc") == 3
    assert hamming_distance("karolin", "kathrin") == 3
    assert hamming_distance("abc", "ab") == 1
    assert hamming_distance("", "") == 0
    assert abs(jaro_distance("martha", "marhta") - (1 - 0.9444444444)) < 1e-6
    assert abs(jaro_distance("dixon", "dicksonx") - (1 - 0.7666666667)) < 1e-6
    assert jaro_distance("abc", "abc") == 0.0
    assert jaro_distance("abc", "xyz") == 1.0


def test_suggest_metric_dispatch(spark):
    terms = spark.createDataFrame(
        [("spark",), ("sprak",), ("query",)], "term STRING")
    # damerau: transposed 'sprak' is distance 1 from 'spark'
    got = suggest_terms(terms, ["sprak"], max_distance=1,
                        max_suggestions=2, metric="damerau").collect()
    assert {r["suggestion"] for r in got} == {"spark", "sprak"}
    # jaro with a [0,1] threshold
    got = suggest_terms(terms, ["spak"], max_distance=0.2,
                        max_suggestions=3, metric="jaro").collect()
    assert "spark" in {r["suggestion"] for r in got}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="metric"):
        suggest_terms(terms, ["x"], metric="cosine")


def test_jaro_single_char_identity():
    from garamond_jl_spark.functions.suggest import jaro_distance
    assert jaro_distance("a", "a") == 0.0
    assert jaro_distance("a", "b") == 1.0
    assert jaro_distance("ab", "ab") == 0.0


def test_missing_needles_dedupes(spark):
    from garamond_jl_spark.functions.suggest import missing_needles
    terms = spark.createDataFrame([("main",), ("run",)], "term STRING")
    assert missing_needles(terms, ["dtaa", "main", "dtaa", "zz"]) == \
        ["dtaa", "zz"]


def test_product_strategy_zero_factor_zeroes_doc(spark):
    """results.jl prod(): a zero factor zeroes the product (the doc
    then falls to the zero-score drop) — exp(sum(log)) silently NULLed
    it out of the sum and kept the doc."""
    from garamond_jl_spark.operators.aggregate import strategy_scalar
    got = _merged(spark, [(_FixedSearcher([(1, 2.0), (2, 0.5)]), 1.0),
                          (_FixedSearcher([(1, 0.0), (2, 0.5)]), 1.0)],
                  "product")
    assert got == {(0, 2): 0.25}     # doc 1's zero factor drops it
    assert strategy_scalar([2.0, 0.0], "product") == 0.0
    import pytest as _pt
    with _pt.raises(ValueError):
        strategy_scalar([], "product")


def test_merge_groups_per_query(spark):
    """A batch aggregates per (query, doc): a doc two queries hit keeps
    one score per query — dropping the query key averaged different
    queries' scores together."""
    got = _merged(spark, [(_FixedSearcher([(1, 1.0)], [(1, 0.2)]), 1.0)],
                  "mean", n_queries=2)
    assert got == {(0, 1): 1.0, (1, 1): 0.2}


# ----------------------------------------------------------------- stdlib codecs

def test_wav_roundtrip_exact():
    """Real stdlib WAV codec: encode int16 PCM, decode through the
    feature extractor — integer-exact statistics."""
    import numpy as np
    from garamond_jl_spark.operators.multimodal import (wav_decode_features,
                                                        wav_encode)
    s = np.array([-2048, 0, 17, 2047, -5], dtype="<i2")
    f = wav_decode_features(wav_encode(s, framerate=8000))
    assert f.tolist() == [1.0, 8000.0, 5.0, float(s.sum()),
                          float(np.abs(s.astype(int)).sum()),
                          -2048.0, 2047.0]


def test_pnm_roundtrip_binary_and_ascii():
    import numpy as np
    from garamond_jl_spark.operators.multimodal import (pnm_decode_features,
                                                        pnm_encode)
    px = np.array([0, 255, 13, 7, 99, 1], dtype=np.uint8)
    for binary in (True, False):
        f = pnm_decode_features(pnm_encode(px, 3, 2, binary=binary))
        assert f.tolist() == [3.0, 2.0, 1.0, float(px.sum()), 0.0, 255.0]


def test_pnm_parser_handles_comments_and_p3():
    from garamond_jl_spark.operators.multimodal import pnm_decode_features
    payload = b"P2\n# a comment\n2 2\n255\n1 2\n3 4\n"
    assert pnm_decode_features(payload).tolist() == \
        [2.0, 2.0, 1.0, 10.0, 1.0, 4.0]
    p3 = b"P3\n1 1\n255\n10 20 30\n"
    assert pnm_decode_features(p3).tolist() == \
        [1.0, 1.0, 3.0, 60.0, 10.0, 30.0]


def test_pnm_truncated_raster_raises():
    import pytest
    from garamond_jl_spark.operators.multimodal import pnm_decode_features
    with pytest.raises(ValueError, match="truncated"):
        pnm_decode_features(b"P5\n4 4\n255\n\x00\x01")


def test_stdlib_decoder_dispatch_and_residual_stub():
    import numpy as np
    import pytest
    from garamond_jl_spark.operators.multimodal import (pnm_encode,
                                                        stdlib_decoder,
                                                        wav_encode)
    dec = stdlib_decoder()
    assert dec(wav_encode(np.array([1], dtype="<i2")))[2] == 1.0
    assert dec(pnm_encode(np.array([5], dtype=np.uint8), 1, 1))[3] == 5.0
    with pytest.raises(NotImplementedError):
        dec(b"\x89PNG....")        # real PNG still needs PIL — honest
