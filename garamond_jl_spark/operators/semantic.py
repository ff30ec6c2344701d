"""Semantic (embedding-based) search: BOE + word-vector lookup
(reference E1 + E6 — "the other half of Garamond").

Reference counterparts:
* BOE document embedding — /root/reference/src/embedder/boe.jl:1-27:
  a document embeds as the sum of its tokens' word vectors (OOV tokens
  skipped; a document/query with no known token is not embedded — the
  same ``is_embedded`` gate as the DTV path).
* word-vector lookup table — src/embedder/wordvectors.jl:101-158 (load)
  and :167-187 (per-token lookup).  The reference loads pretrained
  word2vec/fasttext/glove files; this sandbox has no embedding files,
  so :func:`synthetic_word_vectors` generates a DETERMINISTIC table —
  each component is a pure function of (seed, term, dim) via md5, the
  same trick as the synthetic corpus (corpus.py) — which lets the whole
  BOE pipeline be built, parity-tested against DuckDB, and
  rank-verified against a NumPy oracle exactly like BM25 was.  A real
  deployment replaces that one table with vectors read from storage;
  every downstream plan is unchanged.

Spark shape: everything stays in LONG form (term|doc_id, i, v) — sums
and dot products are groupBy aggregations and equi-joins, never
per-row Python.  The doc-side word-vector joins carry NO forced
broadcast hint: a code corpus's vocabulary grows with the corpus
(1.5M distinct identifiers at 1M docs, bench/embedders_scale.py), so
hinting OOM'd at scale — AQE still broadcasts a genuinely small vocab
at runtime.  Query-side joins keep their hints (query tables are tiny
by construction).  Document embedding is one shuffle (doc_id, i);
query embedding touches only the query's own terms.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from garamond_jl_spark.session import local_frame

DEFAULT_DIM = 16
_NIB = "0123456789abcdef"
# raw 24-bit value from the first 6 hex chars of md5 → v ∈ [-1, 1)
_DENOM = float(1 << 23)


def _component_expr(h: str = "h") -> str:
    """Spark SQL: first-6-nibble integer of md5 hex column ``h`` (the
    DuckDB oracle keeps the equivalent per-nibble strpos arithmetic).
    One ``conv`` hex parse replaces six substring+locate string scans
    (r6, guide §1.2 per-task work) — the parsed integer is identical
    by construction, so every downstream component value is unchanged."""
    return f"cast(conv(substring({h}, 1, 6), 16, 10) as bigint)"


def component_sql(h: str = "h") -> str:
    """DuckDB flavor of :func:`_component_expr` (strpos)."""
    parts = [f"(strpos('{_NIB}', substring({h}, {c}, 1)) - 1) * {16 ** (6 - c)}"
             for c in range(1, 7)]
    return " + ".join(parts)


def word_vector_component(term: str, i: int, seed: int = 0) -> float:
    """Scalar (NumPy-oracle side) of the deterministic component."""
    h = hashlib.md5(f"{seed}:{term}:{i}".encode()).hexdigest()
    return int(h[:6], 16) / _DENOM - 1.0


def synthetic_word_vectors(vocab: DataFrame, dim: int = DEFAULT_DIM,
                           seed: int = 0) -> DataFrame:
    """vocab(term) → long-form word vectors (term, i, v), i in 1..dim,
    v = md5(seed:term:i)[0:6]/2^23 − 1 ∈ [−1, 1).  Deterministic pure
    function — rebuildable anywhere, no stored state."""
    spark = vocab.sparkSession
    dims = spark.range(1, dim + 1).select(F.col("id").cast("int").alias("i"))
    wvh = (vocab.select("term").distinct()
           .crossJoin(F.broadcast(dims))
           .withColumn("h", F.md5(F.concat_ws(":", F.lit(seed),
                                              F.col("term"), F.col("i")))))
    v = (F.expr(_component_expr()) / F.lit(_DENOM) - F.lit(1.0)).alias("v")
    return wvh.select("term", "i", v)


def boe_doc_embeddings(tokens: DataFrame, word_vectors: DataFrame) -> DataFrame:
    """tokens(doc_id, term, tf) ⋈ word vectors → long-form document
    embeddings (doc_id, i, dv) with dv = Σ_t tf·v (boe.jl:12-24 sum;
    OOV terms drop at the inner join).  One shuffle by (doc_id, i)."""
    return (tokens.join(word_vectors, "term")
            .groupBy("doc_id", "i")
            .agg(F.sum(F.col("tf") * F.col("v")).alias("dv")))


def boe_embed_query(spark: SparkSession, query: str,
                    word_vectors: DataFrame,
                    compound_word_separator: str | None = None,
                    max_compound_word_length: int = 2,
                    wildcard_matching: bool = False) -> DataFrame:
    """Query → (i, qv) by the same sum; whitespace tokens with
    multiplicity; empty result ⇔ every token is OOV (is_embedded
    gate).

    With ``compound_word_separator`` set (and/or ``wildcard_matching``),
    tokens first pass through the ConceptNet-style matcher
    (:func:`lookup_tokens` — compound joins consumed greedily,
    prefix-wildcard fallback for OOV tokens; wordvectors.jl:142-158)."""
    toks = [t for t in (query or "").split(" ") if t]
    if toks and (compound_word_separator is not None or wildcard_matching):
        toks = lookup_tokens(spark, word_vectors, toks,
                             separator=compound_word_separator or "_",
                             max_compound_word_length=max_compound_word_length,
                             wildcard_matching=wildcard_matching)
    if not toks:
        return local_frame(spark, [], "i INT, qv DOUBLE")
    counts: dict[str, int] = {}
    for t in toks:
        counts[t] = counts.get(t, 0) + 1
    qt = F.broadcast(local_frame(spark,
        list(counts.items()), "term STRING, qtf INT"))
    # prefilter the word-vector lineage to the query's own tokens (r6):
    # the equi-join keeps exactly these rows anyway, but the static
    # isin pushes BELOW the synthetic md5 projection / a parquet scan,
    # so the query job no longer materializes vocab×dim vector
    # components just to keep |query terms|·dim of them.  Row order of
    # the probe side is preserved by the filter, so the per-dim float
    # sums see identical addends in identical order — bit-identical qv.
    wv_f = word_vectors.where(F.col("term").isin(list(counts)))
    return (qt.join(wv_f, "term")
            .groupBy("i").agg(F.sum(F.col("qtf") * F.col("v")).alias("qv")))


def query_token_rows(queries: list[str]) -> list[tuple[int, str, int]]:
    """(query_id, term, count) rows from whitespace-split queries — the
    ONE definition of batch query tokenization for dense searchers
    (single/batch/query-as-doc paths must count terms identically)."""
    rows = []
    for qid, q in enumerate(queries):
        counts: dict[str, int] = {}
        for t in (q or "").split(" "):
            if t:
                counts[t] = counts.get(t, 0) + 1
        rows.extend((qid, t, c) for t, c in sorted(counts.items()))
    return rows


def conceptnet_match_tokens(tokens: list[str], vocab: set,
                            separator: str = "_",
                            max_compound_word_length: int = 2,
                            wildcard_matching: bool = False) -> list[str]:
    """E6 ConceptNet-style token → vocab-entry matching
    (reference src/embedder/wordvectors.jl:142-158, delegating to
    ConceptnetNumberbatch.embed_document): greedy LONGEST-FIRST compound
    lookup — consecutive tokens joined by ``separator`` (up to
    ``max_compound_word_length`` tokens) matched against the vocabulary
    and consumed together ("new york" → "new_york") — with an optional
    wildcard fallback for unmatched tokens: the longest vocabulary entry
    that is a proper prefix (≥3 chars) of the token ("runnning" →
    "run").  Pure function over a membership set; tiny by construction
    on the query side (|tokens| · max_len candidate keys)."""
    out: list[str] = []
    i, n = 0, len(tokens)
    while i < n:
        matched = False
        for L in range(min(max_compound_word_length, n - i), 0, -1):
            key = separator.join(tokens[i:i + L])
            if key in vocab:
                out.append(key)
                i += L
                matched = True
                break
        if matched:
            continue
        if wildcard_matching:
            t = tokens[i]
            for j in range(len(t) - 1, 2, -1):
                if t[:j] in vocab:
                    out.append(t[:j])
                    break
        i += 1
    return out


def lookup_tokens(spark: SparkSession, word_vectors: DataFrame,
                  tokens: list[str], separator: str = "_",
                  max_compound_word_length: int = 2,
                  wildcard_matching: bool = False) -> list[str]:
    """Distributed-vocabulary front end of
    :func:`conceptnet_match_tokens`: builds every candidate key (the
    compound joins and, under wildcard matching, every ≥3-char token
    prefix) and resolves membership with ONE ``isin``-filtered read of
    the word-vector table — never a full-vocabulary collect."""
    cands: set[str] = set()
    n = len(tokens)
    for i in range(n):
        for L in range(1, max_compound_word_length + 1):
            if i + L <= n:
                cands.add(separator.join(tokens[i:i + L]))
        if wildcard_matching:
            t = tokens[i]
            for j in range(3, len(t)):
                cands.add(t[:j])
    if not cands:
        return []
    vocab = {r["term"] for r in
             word_vectors.select("term").where(
                 F.col("term").isin(sorted(cands))).distinct().collect()}
    return conceptnet_match_tokens(tokens, vocab, separator,
                                   max_compound_word_length,
                                   wildcard_matching)


SIF_ALPHA = 0.01          # DEFAULT_SIF_ALPHA, defaults.jl:21
BOREP_POOLING = "sum"     # DEFAULT_BOREP_POOLING_FUNCTION, defaults.jl:23
DISC_NGRAM = 2            # DEFAULT_DISC_NGRAM, defaults.jl:24
CPMEAN_POWERS = ("min", "geo", "mean", "max")  # T[-Inf, 0, 1, Inf], cpmean.jl:19


def sif_doc_embeddings(tokens: DataFrame, word_vectors: DataFrame,
                       lexicon: DataFrame, alpha: float = SIF_ALPHA,
                       remove_pc: bool = True,
                       total: float | None = None) -> DataFrame:
    """E2 SIF (src/embedder/sif.jl:53-81, Arora et al. 2017):
    dv = (1/W_d)·Σ_w α/(α+p_w)·v_w with p_w the corpus lexicon
    probability (count/total), then the projection onto the first
    principal component of the doc-vector matrix is removed.

    Deviations from the reference, documented: (a) the reference scales
    by ``1/length(s)`` where s is the dim×W Julia matrix (=1/(dim·W));
    the paper's 1/W is used here — a per-document positive scalar, so
    cosine ranks are unaffected; (b) the reference removes the PC per
    document across its sentences (degenerate for single-sentence docs);
    the paper's corpus-level removal is used — computed distributed as
    the dim×dim Gram matrix via one aggregation (no per-doc collect)
    plus a driver-side eigendecomposition of that tiny matrix.

    ``lexicon``: (term, count) corpus frequencies (the reference passes
    the searcher lexicon, sif.jl:60).  ``total``: the precomputed
    Σcount — pass the frozen corpus total when embedding QUERIES against
    a built searcher so the scalar is not re-collected per call."""
    if total is None:
        total = lexicon.agg(F.sum("count")).collect()[0][0] or 1
    lx = lexicon.select("term", (F.col("count") / F.lit(float(total)))
                        .alias("p"))
    weighted = (tokens.join(word_vectors, "term")
                .join(lx, "term", "left")
                .withColumn("p", F.coalesce("p", F.lit(1e-12)))
                .withColumn("wv", F.lit(alpha) / (F.lit(alpha) + F.col("p"))
                            * F.col("v") * F.col("tf")))
    wd = tokens.groupBy("doc_id").agg(F.sum("tf").alias("wcount"))
    dv = (weighted.groupBy("doc_id", "i").agg(F.sum("wv").alias("dv"))
          .join(wd, "doc_id")
          .select("doc_id", "i", (F.col("dv") / F.col("wcount")).alias("dv")))
    if not remove_pc:
        return dv
    # corpus-level first principal component: Gram = Σ_d x_d x_dᵀ as a
    # MAP-ONLY pass — pack each doc's vector and accumulate the partial
    # XᵀX per Arrow partition (dim² doubles each), sum on the driver.
    # The first cut computed this as a dv ⋈ dv self-join on doc_id
    # (|docs|·dim² intermediate rows); at 1M docs Spark tried to
    # broadcast one 16M-row side and OOM'd — the packed outer product
    # never shuffles more than one dim²-row per partition.
    import numpy as np
    import pyarrow as pa
    # dim from the word-vector table (a narrow scan), NOT from the
    # heavy doc-embedding lineage — aggregating dv here evaluated the
    # whole tokens⋈vectors⋈lexicon plan an extra time, and an
    # empty/all-OOV corpus returned NULL → int(None) TypeError
    dim_row = word_vectors.agg(F.max("i")).first()[0]
    if dim_row is None:
        return dv                      # empty vocabulary: dv is empty
    dim = int(dim_row)
    packed = pack_doc_embeddings(dv, dim).persist()

    def _partial_gram(batches):
        acc = np.zeros((dim, dim))
        seen = False
        for b in batches:
            vecs = b.column(b.schema.get_field_index("emb"))
            if len(vecs) == 0:
                continue
            flat = vecs.flatten().to_numpy(zero_copy_only=False)
            X = np.asarray(flat, dtype=np.float64).reshape(len(vecs), -1)
            acc += X.T @ X
            seen = True
        if seen:
            yield pa.RecordBatch.from_arrays(
                [pa.array([acc.reshape(-1).tolist()],
                          type=pa.list_(pa.float64()))], names=["g"])

    parts = (packed.select("emb")
             .mapInArrow(_partial_gram, "g ARRAY<DOUBLE>").collect())
    G = np.zeros((dim, dim))
    for r in parts:
        G += np.asarray(r["g"], dtype=np.float64).reshape(dim, dim)
    vals, eig = np.linalg.eigh(G)
    u = np.asarray(eig[:, -1], dtype=np.float64)

    # subtraction is the second map pass over the SAME packed table:
    # X − (X·u)uᵀ per batch, emitted back in long form.  The first cut
    # joined dv ⋈ u ⋈ (per-doc s) — recomputing the whole embedding
    # plan on both join sides; and it left a doc's ABSENT dims absent,
    # though PC removal makes them −u_i·s_d ≠ 0 (the NumPy oracle
    # subtracts densely) — the packed pass is both map-only and dense.
    def _remove_pc(batches):
        for b in batches:
            ids = b.column(b.schema.get_field_index("doc_id"))
            vecs_ = b.column(b.schema.get_field_index("emb"))
            n = len(vecs_)
            if n == 0:
                continue
            flat = vecs_.flatten().to_numpy(zero_copy_only=False)
            X = np.asarray(flat, dtype=np.float64).reshape(n, -1)
            Xr = X - np.outer(X @ u, u)
            id_np = np.asarray(ids.to_numpy(zero_copy_only=False),
                               dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(id_np, dim), type=pa.int64()),
                 pa.array(np.tile(np.arange(1, dim + 1), n),
                          type=pa.int32()),
                 pa.array(Xr.reshape(-1), type=pa.float64())],
                names=["doc_id", "i", "dv"])

    return packed.mapInArrow(_remove_pc, "doc_id LONG, i INT, dv DOUBLE")


def borep_projection(dim_in: int, dim_out: int, seed: int = 0) -> list[tuple]:
    """Deterministic BOREP heuristic-init projection R (borep.jl:25-27):
    entries ±1/sqrt(d) with the sign from md5(seed:out:in)'s high bit —
    the same derandomization as the LSH hyperplanes."""
    rows = []
    inv = 1.0 / math.sqrt(dim_in)
    for o in range(1, dim_out + 1):
        for i in range(1, dim_in + 1):
            h = hashlib.md5(f"{seed}:R:{o}:{i}".encode()).hexdigest()
            rows.append((o, i, inv if h[0] in "89abcdef" else -inv))
    return rows


def borep_doc_embeddings(tokens: DataFrame, word_vectors: DataFrame,
                         dim_in: int = DEFAULT_DIM, dim_out: int = 64,
                         pooling: str = BOREP_POOLING,
                         seed: int = 0) -> DataFrame:
    """E3 BOREP (src/embedder/borep.jl:25-60): random ±1/√d projection
    of word vectors, pooled over the document.  ``sum`` pooling commutes
    with the projection (R·Σv = ΣR·v) so it projects the BOE sum — one
    tiny broadcast join; ``max`` pools per projected dimension and
    needs the per-word projection first (|tokens|·dim_out rows)."""
    spark = tokens.sparkSession
    R = F.broadcast(local_frame(spark,
        borep_projection(dim_in, dim_out, seed), "o INT, i INT, r DOUBLE"))
    if pooling == "sum":
        boe = (tokens.join(word_vectors, "term")
               .groupBy("doc_id", "i")
               .agg(F.sum(F.col("tf") * F.col("v")).alias("dv")))
        return (boe.join(R, "i")
                .groupBy("doc_id", F.col("o"))
                .agg(F.sum(F.col("r") * F.col("dv")).alias("dv"))
                .select("doc_id", F.col("o").alias("i"), "dv"))
    if pooling != "max":
        raise ValueError(f"unknown BOREP pooling: {pooling!r}")
    # max pooling: per-WORD projection, then max per projected dim.
    # tf>1 repeats don't change a max; distinct terms suffice.
    proj = (tokens.select("doc_id", "term").distinct()
            .join(word_vectors, "term")
            .join(R, "i")
            .groupBy("doc_id", "term", "o")
            .agg(F.sum(F.col("r") * F.col("v")).alias("pw")))
    return (proj.groupBy("doc_id", "o").agg(F.max("pw").alias("dv"))
            .select("doc_id", F.col("o").alias("i"), "dv"))


def cpmean_doc_embeddings(tokens: DataFrame, word_vectors: DataFrame,
                          dim: int = DEFAULT_DIM,
                          powers: tuple = CPMEAN_POWERS,
                          znorm: bool = True) -> DataFrame:
    """E4 CPMean (src/embedder/cpmean.jl:49-84, Rücklé et al. 2018):
    per-dimension power means over the document's word-vector multiset
    — p=-Inf (min), p=0 (signed geometric mean), p=1 (mean), p=Inf
    (max) — concatenated block-wise; each block optionally
    z-normalized (mean 0 / std 1 over its dim values, cpmean.jl:86-89).

    The word multiset weights by tf (each occurrence counts, matching
    hcat of per-word columns, cpmean.jl:55)."""
    wv = (tokens.join(word_vectors, "term")
          .select("doc_id", "i", "v", "tf"))
    # the multiset is the EMBEDDED words (cpmean.jl:55 hcat's only
    # in-vocabulary columns): counting OOV tokens into n would raise
    # the geomean to a wrong power that z-normalization cannot cancel
    n = (tokens.join(word_vectors.select("term").distinct(), "term",
                     "left_semi")
         .groupBy("doc_id").agg(F.sum("tf").alias("n")))
    per_dim = wv.groupBy("doc_id", "i").agg(
        F.min("v").alias("p_min"), F.max("v").alias("p_max"),
        F.sum(F.col("v") * F.col("tf")).alias("sum_v"),
        # signed geomean: sign from the parity of negative multiplicity,
        # magnitude from Σ tf·log|v|  (prod(A)^(1/n), cpmean.jl:66-68)
        F.sum(F.when(F.col("v") < 0, F.col("tf")).otherwise(0)).alias("negs"),
        F.sum(F.col("tf") * F.log(F.abs(F.col("v")) + F.lit(1e-300)))
        .alias("loga"))
    blocks = {
        "min": F.col("p_min"),
        "max": F.col("p_max"),
        "mean": F.col("sum_v") / F.col("n"),
        "geo": F.when(F.col("negs") % 2 == 1, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.exp(F.col("loga") / F.col("n")),
    }
    parts = []
    for bi, p in enumerate(powers):
        if p not in blocks:
            raise ValueError(f"unknown power: {p!r}")
        parts.append(per_dim.join(n, "doc_id").select(
            "doc_id", (F.col("i") + bi * dim).alias("i"),
            blocks[p].alias("dv"), F.lit(bi).alias("_blk")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if znorm:
        from pyspark.sql import Window
        w = Window.partitionBy("doc_id", "_blk")
        out = out.select(
            "doc_id", "i",
            ((F.col("dv") - F.avg("dv").over(w))
             / (F.stddev_samp("dv").over(w) + F.lit(1e-16))).alias("dv"),
            "_blk")
    return out.drop("_blk")


def disc_doc_embeddings(tokens_pos: DataFrame, word_vectors: DataFrame,
                        dim: int = DEFAULT_DIM,
                        n: int = DISC_NGRAM) -> DataFrame:
    """E5 DisC (src/embedder/disc.jl:49-90): for each k in 1..n, the
    element-wise products of k consecutive word vectors are summed and
    scaled by 1/k; blocks concatenated.  Needs token ORDER:
    ``tokens_pos`` is (doc_id, pos, term) with pos dense from 0.

    Documented deviation: for documents shorter than k tokens the
    reference clamps k down (disc.jl:81) so the k-block duplicates a
    lower-order block; here the block is simply absent (contributes
    nothing to a cosine), which avoids a per-doc conditional join.

    OOV tokens COMPACT: the reference forms k-grams over the matrix of
    EMBEDDED words only (disc.jl:64-75 — the lookup skips OOV), so
    "consecutive" means consecutive-among-embedded; positions are
    re-densified after the vocabulary filter (one window shuffle by
    doc_id over the token rows, before the dim-fold expansion)."""
    vocab = word_vectors.select("term").distinct()
    seq = (tokens_pos.join(vocab, "term")
           .withColumn("pos", F.row_number().over(
               Window.partitionBy("doc_id").orderBy("pos")) - 1))
    base = (seq.join(word_vectors, "term")
            .select("doc_id", "pos", "i", "v"))
    parts = []
    for k in range(1, n + 1):
        prod = base
        for off in range(1, k):
            nxt = base.select("doc_id",
                              (F.col("pos") - off).alias("pos"), "i",
                              F.col("v").alias(f"v{off}"))
            prod = (prod.join(nxt, ["doc_id", "pos", "i"])
                    .withColumn("v", F.col("v") * F.col(f"v{off}"))
                    .drop(f"v{off}"))
        parts.append(prod.groupBy("doc_id", "i")
                     .agg((F.sum("v") / F.lit(float(k))).alias("dv"))
                     .select("doc_id",
                             (F.col("i") + (k - 1) * dim).alias("i"), "dv"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


RP_DIM_OUT = 64   # projection width knob (config_parser.jl:157-168);
# 64 ⇒ entries ±1/√64 = ±0.125 exactly representable in IEEE doubles


def rp_sign(term: str, o: int, seed: int = 0) -> float:
    """Scalar (NumPy/driver side) of the deterministic RP entry sign:
    +1 iff md5(seed:RP:term:o)'s high bit is set.  Scalar twin of
    :func:`rp_entry_expr` — change only together."""
    h = hashlib.md5(f"{seed}:RP:{term}:{o}".encode()).hexdigest()
    return 1.0 if h[0] in "89abcdef" else -1.0


def rp_entry_expr(term_col: Column, o_col: Column, dim_out: int,
                  seed: int) -> Column:
    """The ONE Spark-side definition of the RP matrix entry
    ±1/√dim_out · sign(md5(seed:RP:term:o)) shared by the doc-side
    projection (:func:`rp_doc_embeddings`) and the batched query
    projection (:meth:`RPSearcher.embed_queries_df`) — doc and query
    vectors MUST project through the same matrix."""
    inv = 1.0 / (dim_out ** 0.5)
    return F.when(
        F.substring(F.md5(F.concat_ws(":", F.lit(seed), F.lit("RP"),
                                      term_col, o_col)), 1, 1)
        .isin(*"89abcdef"), F.lit(inv)).otherwise(F.lit(-inv))


def rp_doc_embeddings(postings: DataFrame, dim_out: int = RP_DIM_OUT,
                      seed: int = 0) -> DataFrame:
    """E7 random-projection transform of weighted DTVs
    (embedder/interface.jl:84-87 ``:rp`` path, config
    config_parser.jl:157-168): project each document's |V|-dimensional
    weighted term vector to ``dim_out`` dims through a sparse ±1/√m
    sign matrix.  The reference draws R from Julia's RNG (documented
    irreproducible, SURVEY §5.3); here every entry is the pure function
    md5(seed:RP:term:o) — the same derandomization as the BOREP
    projection and the LSH hyperplanes — so the projection is
    rebuildable anywhere with no stored matrix.

    Scale shape: JOIN-FREE.  R is never materialized or broadcast
    (|V|·m rows would not broadcast at 10⁸-term vocabularies); each
    posting row explodes into its m projected contributions and one
    groupBy(doc_id, o) shuffle sums them.  Cost is |postings|·m rows of
    embarrassingly-parallel codegen arithmetic — no skew (doc_id keys),
    no second shuffle.

    ``postings``: (term, doc_id, w) — any weighting scheme (count / tf
    / tfidf / bm25), matching the reference where RP composes over the
    configured DTV weighting."""
    p = postings.select(
        "term", "doc_id", "w",
        F.explode(F.sequence(F.lit(1), F.lit(dim_out))).alias("o"))
    r = rp_entry_expr(F.col("term"), F.col("o"), dim_out, seed)
    return (p.withColumn("r", r)
            .groupBy("doc_id", "o")
            .agg(F.sum(F.col("w") * F.col("r")).alias("dv"))
            .select("doc_id", F.col("o").alias("i"), "dv"))


LSA_DIM_OUT = 16


def lsa_projection(postings: DataFrame, dim_out: int = LSA_DIM_OUT
                   ) -> tuple[DataFrame, list[float]]:
    """E7 ``:lsa`` transform (embedder/interface.jl:86, dtv.jl:4-7 —
    StringAnalysis.LSAModel): truncated SVD of the weighted DTM
    X ≈ U·S·Vᵀ.  Returns (V_table, singular_values) where V_table is
    the long-form projection (term, i, v), i in 1..dim_out — documents
    AND queries fold in through the same broadcast join
    (x̂ = Vᵀx), so cosine similarity in the latent space is invariant
    to ARPACK's per-component sign indeterminacy (both sides flip
    together; verified in test_lsa_rank_matches_numpy).

    Spark shape: the DTM is never densified — docs are mllib sparse
    vectors (one groupBy), the SVD is mllib's distributed
    ARPACK/Lanczos on the IndexedRowMatrix (driver holds only the
    |V|·k factor V, k small by construction).  Term ids are assigned
    by a distributed sort + zipWithIndex — no global window."""
    spark = postings.sparkSession
    from pyspark.mllib.linalg import Vectors
    from pyspark.mllib.linalg.distributed import (IndexedRow,
                                                  IndexedRowMatrix)
    terms = postings.select("term").distinct()
    tid_rdd = (terms.orderBy("term").rdd.map(lambda r: r["term"])
               .zipWithIndex())
    tid_df = spark.createDataFrame(tid_rdd, "term STRING, tid LONG")
    n_terms = tid_df.count()
    rows = (postings.join(F.broadcast(tid_df), "term")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.struct("tid", "w")))
                 .alias("tw")))
    irm = IndexedRowMatrix(rows.rdd.map(lambda r: IndexedRow(
        r["doc_id"], Vectors.sparse(n_terms,
                                    [int(t["tid"]) for t in r["tw"]],
                                    [float(t["w"]) for t in r["tw"]]))))
    svd = irm.computeSVD(dim_out, computeU=False)
    V = svd.V.toArray()          # n_terms × k, driver-local
    s = [float(x) for x in svd.s]
    v_rows = [(int(t), i + 1, float(V[t, i]))
              for t in range(n_terms) for i in range(V.shape[1])]
    v_df = (local_frame(spark, v_rows, "tid LONG, i INT, v DOUBLE")
            .join(tid_df, "tid").select("term", "i", "v"))
    return v_df, s


def project_dtv(postings: DataFrame, v_table: DataFrame) -> DataFrame:
    """Fold a weighted DTV table (term, doc_id, w) into the latent
    space through the projection table (term, i, v): one term join +
    one groupBy(doc_id, i) shuffle — identical shape for LSA's learned
    V and RP's hashed signs.  No forced broadcast: v_table is
    VOCABULARY-sized (|V|·k rows — ~24M at a 1.5M-term vocab, the same
    shape whose doc-side broadcast OOM'd the BOE path, module header);
    AQE still broadcasts it when it is actually small."""
    return (postings.join(v_table, "term")
            .groupBy("doc_id", "i")
            .agg(F.sum(F.col("w") * F.col("v")).alias("dv")))


class DenseVectorSearcher:
    """A dense-embedding searcher conforming to the lifecycle's
    sparse-hits interface, so it can participate in a heterogeneous
    ``SearchEnv.searchers`` list next to classic BM25 indexes and be
    merged by the A6 aggregation strategies — the reference's config-2
    environment (test/configs/configgenerator.jl:54-116: a Word2Vec/BOE
    searcher and a classic searcher sharing one ``id_aggregation``,
    merged by src/search/results.jl:54-145).

    Scoring matches the reference searcher pipeline: the NaiveIndex
    cosine DISTANCE (1 − cos, src/index/naive.jl:15-32) goes through the
    same ``score_transform`` (1 − tanh(α·dist), src/search/index.jl:
    186-202) as the classic path, so scores from both searcher kinds
    live on the same scale before aggregation.

    Contract (the same as the lifecycle's ``classic_hits``):
    * ``sparse_hits(spark, query)`` → (doc_id, score) over every
      EMBEDDED doc, or ``None`` when the query has no in-vocab token
      (per-searcher ``is_embedded`` gate — an OOV searcher contributes
      nothing to the aggregation, dtv.jl:53-58 analog boe.jl:19-24);
    * ``sparse_hits_batch(spark, queries)`` → the same per query, keyed
      by ``query_id``, plus the (query_id) frame of the queries that
      passed the gate.  A single request is a batch of one: both run
      the same scoring body on the collected query embeddings;
    * ``fill_score()`` → the score of a doc this searcher did not embed
      (dist = 1, the zero-vector convention the classic path uses).

    Note dense cosines may be NEGATIVE (unlike BM25), so an embedded doc
    can score BELOW ``fill_score`` — the lifecycle's multi-searcher pad
    selects fill candidates with an anti-join BEFORE the low-id limit
    for exactly this reason.

    ``candidate_index`` (optional) attaches a sublinear ANN index
    (operators/ann: LSH / IVF / IVFADC / HNSW) — the reference's
    searcher-owns-an-index design (src/searchable/searcher.jl:120-125
    attaching an IVFADC/HNSW index instead of the NaiveIndex corpus
    scan).  Every index answers one probe, ``candidates_batch({query_id:
    qv_rows})`` → (query_id, doc_id), and the searcher exact-reranks
    only those pairs, so a request touches the probed buckets/lists
    instead of the corpus.  Without one, the full-scan NaiveIndex
    semantics (naive.jl:15-32) apply unchanged — that exact path
    remains the parity default.

    What an attached index guarantees (the dense recall contract):
    * every candidate scores exactly as in the full scan (same
      expression over the same rows);
    * a doc the probe misses is NOT scored by this searcher: it falls
      to the lifecycle's fill (``fill_score()``), which may sit above
      or below its true score (cosines can be negative);
    * hence the merged top-k equals the full scan's exactly when the
      candidate set holds every doc whose full-scan rank reaches the
      top-k — an HNSW index at exhaustive ``ef`` (≥ shard size) always
      does; LSH (Hamming ball of ``radius`` around the query bucket),
      IVF (``n_probe`` nearest lists) and IVFADC (plus its ``rerank``
      cut) promise no recall.  The parity envs pin it case by case:
      the LSH env (6 planes, radius 3) reproduces the full scan at
      sf0.01 for both batched requests, and at sf0.001 its probe ball
      misses one doc of the second request
      (tests/test_ann.py::test_dense_recall_contract_lsh_env).

    Subclasses supply :meth:`embed_query` → long-form (i, qv) DataFrame,
    or ``None``/empty when the query is OOV for the embedder."""

    def __init__(self, doc_embeddings: DataFrame, score_alpha: float = 0.4,
                 candidate_index=None):
        self.doc_embeddings = doc_embeddings
        self.score_alpha = float(score_alpha)
        self.candidate_index = candidate_index
        self.metric = "cosine"
        self.packed: DataFrame | None = None
        self._norms: DataFrame | None = None

    def with_metric(self, metric: str) -> "DenseVectorSearcher":
        """``cosine`` (default) keeps the NaiveIndex semantics
        (dist = 1 − cos, src/index/naive.jl:15-32); ``euclidean`` is
        the BruteTree/KDTree/HNSW family's metric (brutetree.jl:22
        "Uses Euclidean distance by default", kdtree.jl:20, hnsw.jl:33)
        — dist = ‖q − d‖₂ over EVERY embedded doc (a doc sharing no
        nonzero component with the query still has a distance), through
        the same pinned ``1 − tanh(α·dist)`` transform, so both searcher
        kinds stay on one score scale.  ``fill_score`` keeps the
        dist = 1 convention in both metrics (the score-scale anchor for
        docs this searcher did not embed).

        Numerics: every path computes dist via ‖d‖² + ‖q‖² − 2·d·q (the
        join/matmul-friendly form); its cancellation error is ~1e-7
        absolute when dist ≈ 0 (a doc equal to the query) and ~1e-13
        otherwise — ranking-safe, but don't expect 1e-12 value identity
        on exact self-matches.  Returns self for chaining."""
        if metric not in ("cosine", "euclidean"):
            raise ValueError(f"unknown metric: {metric!r}")
        self.metric = metric
        return self

    def with_packed_storage(self, dim: int,
                            persist: bool = True) -> "DenseVectorSearcher":
        """Switch this searcher's scoring to the packed array storage
        (:func:`pack_doc_embeddings` — one row per doc, mapInArrow
        matvec scorer): smaller footprint, no per-component join rows.
        The long form stays the source of truth for builders; parity
        rows keep the long-form JVM scorer (numpy tanh may differ in
        the last ulp).  Returns self for chaining."""
        self.packed = pack_doc_embeddings(self.doc_embeddings, dim)
        if persist:
            self.packed = self.packed.persist()
        return self

    def with_candidate_index(self, kind: str = "lsh", index=None,
                             **kwargs) -> "DenseVectorSearcher":
        """Attach a sublinear candidate index built over this searcher's
        own doc embeddings: ``kind`` ∈ {lsh, ivf, ivfadc, hnsw} (kwargs
        forwarded to the builder; ivfadc/hnsw derive ``dim`` from the
        embeddings when not given — the reference's full
        searcher-attached IVFADC structure, where the ADC pass orders
        the probed lists before this searcher's exact rerank, and its
        searcher-attached HNSW graph, searcher.jl:120-125).
        Returns self for chaining.

        ``index=`` attaches a PREBUILT index instead of building one —
        e.g. ``HNSWCandidateIndex.load(path, resident=True)`` so a
        long-lived env serves from worker-resident graphs; the caller
        owns the doc-id agreement between the index and this
        searcher's embeddings."""
        if index is not None:
            if kwargs or kind != "lsh":     # kind's default, not a choice
                raise ValueError(
                    "with_candidate_index(index=...) attaches the index "
                    "as-is; kind/kwargs overrides like "
                    f"{[k for k in kwargs] or kind!r} would be silently "
                    "ignored — set them when building/loading the index")
            self.candidate_index = index
            return self
        from garamond_jl_spark.operators.ann import (HNSWCandidateIndex,
                                                     IVFADCIndex,
                                                     IVFCandidateIndex,
                                                     LSHCandidateIndex)
        builder = {"lsh": LSHCandidateIndex,
                   "ivf": IVFCandidateIndex,
                   "ivfadc": IVFADCIndex,
                   "hnsw": HNSWCandidateIndex}.get(kind)
        if builder is None:
            raise ValueError(f"unknown candidate index kind: {kind!r}")
        if kind in ("ivfadc", "hnsw") and "dim" not in kwargs:
            kwargs["dim"] = int(self.doc_embeddings
                                .agg(F.max("i")).first()[0])
        self.candidate_index = builder.build(self.doc_embeddings, **kwargs)
        return self

    def embed_query(self, spark: SparkSession, query: str
                    ) -> DataFrame | None:
        raise NotImplementedError

    def embed_queries_df(self, spark: SparkSession,
                         queries: list[str]) -> DataFrame:
        """Batched query embedding → (query_id, i, qv) for the WHOLE
        batch in one DataFrame; a query absent from the output is OOV
        for this searcher (the per-query is_embedded gate in batch
        form).  Subclasses override with single-job plans; this
        fallback unions the per-query embeddings."""
        parts = []
        for qid, q in enumerate(queries):
            qv = self.embed_query(spark, q)
            if qv is not None:
                parts.append(qv.select(F.lit(qid).alias("query_id"),
                                       "i", "qv"))
        if not parts:
            return local_frame(spark,
                [], "query_id INT, i INT, qv DOUBLE")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _doc_norms(self) -> DataFrame:
        if self._norms is None:
            self._norms = doc_norms(self.doc_embeddings)
        return self._norms

    def fill_score(self) -> float:
        from garamond_jl_spark.functions.scoring import score_transform
        return score_transform(1.0, self.score_alpha)

    def sparse_hits(self, spark: SparkSession, query: str
                    ) -> DataFrame | None:
        qv = self.embed_query(spark, query)
        if qv is None:
            return None
        hits, live = self._score_query_rows(
            spark, [(0, int(r["i"]), float(r["qv"])) for r in qv.collect()])
        return hits.select("doc_id", "score") if live else None

    def sparse_hits_batch(self, spark: SparkSession, queries: list[str]
                          ) -> tuple[DataFrame, DataFrame]:
        """Batched :meth:`sparse_hits`: returns (hits, embedded) where
        hits = (query_id, doc_id, score) for the whole batch in ONE
        plan and embedded = (query_id) marks the queries that passed
        this searcher's is_embedded gate (the per-query analog of the
        single path's ``None``) — an N-query batch costs O(1) jobs per
        searcher, not O(N)."""
        rows = [(int(r["query_id"]), int(r["i"]), float(r["qv"]))
                for r in self.embed_queries_df(spark, queries).collect()]
        hits, live = self._score_query_rows(spark, rows)
        return hits, local_frame(spark, [(q,) for q in live],
                                 "query_id INT")

    def _score_query_rows(self, spark: SparkSession,
                          rows: list[tuple[int, int, float]]
                          ) -> tuple[DataFrame, list[int]]:
        """The one scoring body: driver-collected query embeddings
        (query_id, i, qv) → ((query_id, doc_id, score), live query ids).
        The query side is |queries|·dim scalars, so the norms, the
        is_embedded gate (a zero-norm query is OOV for this searcher)
        and the candidate probes are all driver math on the one collect
        the caller made — none of them costs a job.  The long-form
        cosine is :func:`cosine_scores`, the scorer every cosine top-k
        shares."""
        from garamond_jl_spark.functions.scoring import score_transform_expr
        qv_map: dict[int, list[tuple[int, float]]] = {}
        for qid, i, v in rows:
            qv_map.setdefault(qid, []).append((i, v))
        nq = query_norms(qv_map)
        live = sorted(nq)
        qv_map = {q: qv_map[q] for q in live}
        cand = (self.candidate_index.candidates_batch(qv_map)
                if self.candidate_index is not None and qv_map else None)
        if self.packed is not None:
            # packed storage: the batch's query vectors form one small
            # matrix (dim × |batch| doubles) feeding the blocked
            # mapInArrow matmul scorer; numpy tanh may differ from the
            # JVM's in the last ulp, so parity envs stay long-form.
            # With candidates, score the UNION of all queries'
            # candidates once, then keep each query's own pairs (with
            # one query the union IS its candidate set)
            src = (self.packed if cand is None
                   else self.packed.join(cand, "doc_id", "left_semi"))
            hits = packed_cosine_scores_batch(src, qv_map, self.score_alpha,
                                              metric=self.metric)
            if cand is not None and len(live) > 1:
                hits = hits.join(cand, ["query_id", "doc_id"], "left_semi")
            return hits, live
        dv = self.doc_embeddings
        if self.metric == "euclidean":
            # BruteTree semantics: every (live query, embedded doc) pair
            # has a distance, including docs whose dot with the query is
            # 0 (no shared nonzero component) — candidates restrict the
            # pairs when an index is attached, otherwise the pair set IS
            # the brute full scan
            nqdf = F.broadcast(local_frame(spark, sorted(nq.items()),
                                           "query_id INT, nq DOUBLE"))
            base = (self._doc_norms().crossJoin(nqdf) if cand is None
                    else cand.join(self._doc_norms(), "doc_id")
                    .join(nqdf, "query_id"))
            dist = (base.join(_query_dots(dv, qv_map, nq, cand),
                              ["query_id", "nq", "doc_id"], "left")
                    .select("query_id", "doc_id", F.sqrt(F.greatest(
                        F.lit(0.0),
                        F.col("nd") * F.col("nd") + F.col("nq") * F.col("nq")
                        - 2.0 * F.coalesce(F.col("dot"), F.lit(0.0))))
                        .alias("dist")))
            score = score_transform_expr(F.col("dist"), self.score_alpha)
            return (dist.select("query_id", "doc_id", score.alias("score")),
                    live)
        cosd = cosine_scores(dv, qv_map, nq, cand, self._doc_norms())
        score = score_transform_expr(F.lit(1.0) - F.col("cos"),
                                     self.score_alpha)
        return cosd.select("query_id", "doc_id", score.alias("score")), live


class BOESearcher(DenseVectorSearcher):
    """E1 BOE (word-vector sum) dense searcher — the reference config-2
    ``doc2vec_method=boe`` searcher (src/embedder/boe.jl:1-27)."""

    def __init__(self, word_vectors: DataFrame, doc_embeddings: DataFrame,
                 score_alpha: float = 0.4):
        super().__init__(doc_embeddings, score_alpha)
        self.word_vectors = word_vectors

    @classmethod
    def from_tokens(cls, tokens: DataFrame, word_vectors: DataFrame,
                    score_alpha: float = 0.4) -> "BOESearcher":
        """tokens (doc_id, term, tf) → searcher with BOE embeddings."""
        return cls(word_vectors, boe_doc_embeddings(tokens, word_vectors),
                   score_alpha)

    def embed_query(self, spark: SparkSession, query: str
                    ) -> DataFrame | None:
        return boe_embed_query(spark, query, self.word_vectors)

    def embed_queries_df(self, spark: SparkSession,
                         queries: list[str]) -> DataFrame:
        """All queries' token counts in one tiny table joined once
        against the word-vector table (boe.jl's sum, batch form), with
        the vectors prefiltered to the batch's tokens as
        :func:`boe_embed_query` does."""
        rows = query_token_rows(queries)
        if not rows:
            return local_frame(spark,
                [], "query_id INT, i INT, qv DOUBLE")
        qt = F.broadcast(local_frame(spark,
            rows, "query_id INT, term STRING, qtf INT"))
        wv = self.word_vectors.where(
            F.col("term").isin(sorted({t for _, t, _ in rows})))
        return (qt.join(wv, "term")
                .groupBy("query_id", "i")
                .agg(F.sum(F.col("qtf") * F.col("v")).alias("qv")))


class RPSearcher(DenseVectorSearcher):
    """E7 ``:rp``-transformed classic DTV as an env searcher — the
    reference config-2 ``embedder_1`` ("BM25+RP": ``vectors=bm25``,
    ``vectors_transform=rp``, config_parser.jl:157-168).  Documents
    project through :func:`rp_doc_embeddings` (join-free hashed signs);
    the query embeds as the classic pseudo-document (embed_queries, same
    corpus stats) and projects through the SAME signs driver-side
    (|query terms|·m multiply-adds — tiny)."""

    def __init__(self, index, dim_out: int = RP_DIM_OUT, seed: int = 0,
                 score_alpha: float = 0.4):
        dv = rp_doc_embeddings(
            index.postings.select("term", "doc_id",
                                  F.col("wnorm").alias("w")),
            dim_out=dim_out, seed=seed)
        super().__init__(dv, score_alpha)
        self.index = index
        self.dim_out = int(dim_out)
        self.seed = int(seed)

    def embed_query(self, spark: SparkSession, query: str
                    ) -> DataFrame | None:
        from garamond_jl_spark.operators.query import embed_queries
        rows = embed_queries(spark, self.index, [query]).collect()
        if not rows:
            return None
        inv = 1.0 / (self.dim_out ** 0.5)
        comps = [0.0] * self.dim_out
        for r in rows:
            for o in range(1, self.dim_out + 1):
                comps[o - 1] += (r["qw"] * inv
                                 * rp_sign(r["term"], o, self.seed))
        return local_frame(spark,
            [(o + 1, c) for o, c in enumerate(comps)], "i INT, qv DOUBLE")

    def embed_queries_df(self, spark: SparkSession,
                         queries: list[str]) -> DataFrame:
        """Batch form: the classic pseudo-document embedding
        (embed_queries) already carries query_id; the projection is the
        SAME md5 sign expression the doc side uses
        (:func:`rp_doc_embeddings`) — one explode + one shuffle for the
        whole batch instead of |terms|·dim driver multiply-adds per
        query."""
        from garamond_jl_spark.operators.query import embed_queries
        qt = embed_queries(spark, self.index, queries)
        p = qt.select(
            "query_id", "term", "qw",
            F.explode(F.sequence(F.lit(1), F.lit(self.dim_out))).alias("o"))
        r = rp_entry_expr(F.col("term"), F.col("o"), self.dim_out, self.seed)
        return (p.withColumn("r", r)
                .groupBy("query_id", F.col("o").alias("i"))
                .agg(F.sum(F.col("qw") * F.col("r")).alias("qv")))


class LSASearcher(DenseVectorSearcher):
    """E7 ``:lsa``-transformed classic DTV as an env searcher
    (embedder/interface.jl:86): documents fold into the latent space
    through the learned V (:func:`project_dtv`); queries fold in
    driver-side using only their own terms' V rows (a filtered collect,
    |query terms|·k values)."""

    def __init__(self, index, v_table: DataFrame, score_alpha: float = 0.4):
        dv = project_dtv(
            index.postings.select("term", "doc_id",
                                  F.col("wnorm").alias("w")), v_table)
        super().__init__(dv, score_alpha)
        self.index = index
        self.v_table = v_table

    @classmethod
    def from_index(cls, index, dim_out: int = LSA_DIM_OUT,
                   score_alpha: float = 0.4) -> "LSASearcher":
        v_table, _ = lsa_projection(
            index.postings.select("term", "doc_id",
                                  F.col("wnorm").alias("w")),
            dim_out=dim_out)
        return cls(index, v_table, score_alpha)

    def embed_query(self, spark: SparkSession, query: str
                    ) -> DataFrame | None:
        from garamond_jl_spark.operators.query import embed_queries
        rows = embed_queries(spark, self.index, [query]).collect()
        if not rows:
            return None
        qw = {r["term"]: r["qw"] for r in rows}
        v_rows = (self.v_table.where(F.col("term").isin(sorted(qw)))
                  .collect())
        comps: dict[int, float] = {}
        for r in v_rows:
            comps[r["i"]] = comps.get(r["i"], 0.0) + qw[r["term"]] * r["v"]
        if not comps:
            return None
        return local_frame(spark, sorted(comps.items()),
                           "i INT, qv DOUBLE")

    def embed_queries_df(self, spark: SparkSession,
                         queries: list[str]) -> DataFrame:
        """Batch form: fold every query into the latent space through
        ONE join with V (project_dtv's query-side twin) — no per-query
        V-row collects.  The broadcast hint goes on the QUERY terms
        (a tiny LocalRelation); V is vocabulary-sized."""
        from garamond_jl_spark.operators.query import embed_queries
        qt = embed_queries(spark, self.index, queries)
        return (F.broadcast(qt).join(self.v_table, "term")
                .groupBy("query_id", "i")
                .agg(F.sum(F.col("qw") * F.col("v")).alias("qv")))


class _QueryAsDocSearcher(DenseVectorSearcher):
    """Shared base for the doc2vec_method env searchers (sif / borep /
    cpmean / disc): the reference embeds a QUERY by running it through
    the very same embedder as the documents (searcher.jl:163:
    ``embed(srcher.input_embedder[], [qentry])``), so these searchers
    embed queries by calling their own doc-embedding function on a tiny
    (doc_id=query_id, term, tf) DataFrame — query semantics are
    identical to document semantics BY CONSTRUCTION, and the batch form
    is one plan for the whole batch (doc_id carries query_id).

    Subclasses supply :meth:`_embed_tokens(tokens_df)` → long-form
    (doc_id, i, dv) using the same function the constructor used for
    the corpus."""

    def __init__(self, word_vectors: DataFrame, doc_embeddings: DataFrame,
                 score_alpha: float = 0.4):
        super().__init__(doc_embeddings, score_alpha)
        self.word_vectors = word_vectors

    def _embed_tokens(self, tokens: DataFrame) -> DataFrame:
        raise NotImplementedError

    @staticmethod
    def _query_token_rows(queries: list[str]) -> list[tuple[int, str, int]]:
        return query_token_rows(queries)

    def _query_tokens_df(self, spark: SparkSession,
                         queries: list[str]) -> DataFrame:
        return local_frame(spark,
            self._query_token_rows(queries) or [],
            "doc_id INT, term STRING, tf INT")

    def embed_query(self, spark: SparkSession, query: str
                    ) -> DataFrame | None:
        qt = self._query_tokens_df(spark, [query])
        return self._embed_tokens(qt).select("i", F.col("dv").alias("qv"))

    def embed_queries_df(self, spark: SparkSession,
                         queries: list[str]) -> DataFrame:
        qt = self._query_tokens_df(spark, queries)
        return self._embed_tokens(qt).select(
            F.col("doc_id").cast("int").alias("query_id"), "i",
            F.col("dv").alias("qv"))


class SIFSearcher(_QueryAsDocSearcher):
    """E2 ``doc2vec_method=sif`` env searcher (src/embedder/sif.jl:
    53-81): documents carry the corpus-PC-removed SIF embeddings;
    queries embed with the SAME frozen corpus frequencies (the searcher
    lexicon, sif.jl:60) WITHOUT PC removal — a single query vector
    would vanish under its own projector, and the corpus projector is a
    rank-1 direction shared by all docs, so ranks are unaffected (the
    same convention as the semantic_sif_topk parity query)."""

    def __init__(self, word_vectors: DataFrame, lexicon: DataFrame,
                 total: float, doc_embeddings: DataFrame,
                 alpha: float = SIF_ALPHA, score_alpha: float = 0.4):
        super().__init__(word_vectors, doc_embeddings, score_alpha)
        self.lexicon = lexicon
        self.total = float(total)
        self.alpha = float(alpha)

    @classmethod
    def from_tokens(cls, tokens: DataFrame, word_vectors: DataFrame,
                    alpha: float = SIF_ALPHA, score_alpha: float = 0.4,
                    remove_pc: bool = True) -> "SIFSearcher":
        lexicon = (tokens.groupBy("term").agg(F.sum("tf").alias("count"))
                   .persist())
        total = float(lexicon.agg(F.sum("count")).collect()[0][0] or 1)
        dv = sif_doc_embeddings(tokens, word_vectors, lexicon,
                                alpha=alpha, remove_pc=remove_pc,
                                total=total)
        return cls(word_vectors, lexicon, total, dv, alpha, score_alpha)

    def _embed_tokens(self, tokens: DataFrame) -> DataFrame:
        return sif_doc_embeddings(tokens, self.word_vectors, self.lexicon,
                                  alpha=self.alpha, remove_pc=False,
                                  total=self.total)


class BOREPSearcher(_QueryAsDocSearcher):
    """E3 ``doc2vec_method=borep`` env searcher (src/embedder/borep.jl:
    25-60): deterministic ±1/√d random projection of word vectors with
    ``sum`` or ``max`` pooling (config knobs ``borep_dimension`` /
    ``borep_pooling_function``); queries project through the SAME
    frozen R."""

    def __init__(self, word_vectors: DataFrame, doc_embeddings: DataFrame,
                 dim_in: int, dim_out: int, pooling: str = BOREP_POOLING,
                 seed: int = 0, score_alpha: float = 0.4):
        super().__init__(word_vectors, doc_embeddings, score_alpha)
        self.dim_in, self.dim_out = int(dim_in), int(dim_out)
        self.pooling, self.seed = pooling, int(seed)

    @classmethod
    def from_tokens(cls, tokens: DataFrame, word_vectors: DataFrame,
                    dim_in: int = DEFAULT_DIM, dim_out: int = 64,
                    pooling: str = BOREP_POOLING, seed: int = 0,
                    score_alpha: float = 0.4) -> "BOREPSearcher":
        dv = borep_doc_embeddings(tokens, word_vectors, dim_in=dim_in,
                                  dim_out=dim_out, pooling=pooling,
                                  seed=seed)
        return cls(word_vectors, dv, dim_in, dim_out, pooling, seed,
                   score_alpha)

    def _embed_tokens(self, tokens: DataFrame) -> DataFrame:
        return borep_doc_embeddings(tokens, self.word_vectors,
                                    dim_in=self.dim_in,
                                    dim_out=self.dim_out,
                                    pooling=self.pooling, seed=self.seed)


class CPMeanSearcher(_QueryAsDocSearcher):
    """E4 ``doc2vec_method=cpmean`` env searcher (src/embedder/
    cpmean.jl:49-89): concatenated per-dimension power means
    (min / signed geomean / mean / max), z-normalized per block; the
    query's blocks z-normalize over the query's own values — the same
    per-document window the doc side uses."""

    def __init__(self, word_vectors: DataFrame, doc_embeddings: DataFrame,
                 dim: int, powers: tuple = CPMEAN_POWERS,
                 znorm: bool = True, score_alpha: float = 0.4):
        super().__init__(word_vectors, doc_embeddings, score_alpha)
        self.dim, self.powers, self.znorm = int(dim), tuple(powers), znorm

    @classmethod
    def from_tokens(cls, tokens: DataFrame, word_vectors: DataFrame,
                    dim: int = DEFAULT_DIM, powers: tuple = CPMEAN_POWERS,
                    znorm: bool = True,
                    score_alpha: float = 0.4) -> "CPMeanSearcher":
        dv = cpmean_doc_embeddings(tokens, word_vectors, dim=dim,
                                   powers=powers, znorm=znorm)
        return cls(word_vectors, dv, dim, powers, znorm, score_alpha)

    def _embed_tokens(self, tokens: DataFrame) -> DataFrame:
        return cpmean_doc_embeddings(tokens, self.word_vectors,
                                     dim=self.dim, powers=self.powers,
                                     znorm=self.znorm)


class DisCSearcher(_QueryAsDocSearcher):
    """E5 ``doc2vec_method=disc`` env searcher (src/embedder/disc.jl:
    49-90): concatenated k-gram product-sum blocks over ORDERED tokens
    (config knob ``disc_ngram``); queries keep their token order the
    same way."""

    def __init__(self, word_vectors: DataFrame, doc_embeddings: DataFrame,
                 dim: int, n: int = DISC_NGRAM, score_alpha: float = 0.4):
        super().__init__(word_vectors, doc_embeddings, score_alpha)
        self.dim, self.n = int(dim), int(n)

    @classmethod
    def from_tokens_pos(cls, tokens_pos: DataFrame,
                        word_vectors: DataFrame, dim: int = DEFAULT_DIM,
                        n: int = DISC_NGRAM,
                        score_alpha: float = 0.4) -> "DisCSearcher":
        """``tokens_pos``: (doc_id, pos, term), pos dense from 0."""
        dv = disc_doc_embeddings(tokens_pos, word_vectors, dim=dim, n=n)
        return cls(word_vectors, dv, dim, n, score_alpha)

    @staticmethod
    def _query_token_rows(queries: list[str]) -> list[tuple[int, int, str]]:
        return [(qid, pos, t)
                for qid, q in enumerate(queries)
                for pos, t in enumerate(t for t in (q or "").split(" ")
                                        if t)]

    def _query_tokens_df(self, spark: SparkSession,
                         queries: list[str]) -> DataFrame:
        return local_frame(spark,
            self._query_token_rows(queries) or [],
            "doc_id INT, pos INT, term STRING")

    def _embed_tokens(self, tokens_pos: DataFrame) -> DataFrame:
        return disc_doc_embeddings(tokens_pos, self.word_vectors,
                                   dim=self.dim, n=self.n)


def pack_doc_embeddings(dv: DataFrame, dim: int) -> DataFrame:
    """Long-form (doc_id, i, dv) → packed (doc_id, emb array<double>[dim])
    — the dense storage variant: the long form is join-friendly (every
    scorer above is an equi-join + groupBy) but carries dim rows per
    doc; the packed form is ONE row per doc and scores through one
    mapInArrow pass (:func:`packed_cosine_scores_batch`, for a single
    query or a batch) — no per-component join rows, no shuffle.
    On-disk parquet sizes are nearly equal (columnar RLE already
    compresses the long form's repeated keys — measured 137 vs 133 MB
    at 1M×16, BENCH.md r4); the win is the 16× row-count reduction in
    the scorer's input and the map-only plan (1.24 s vs 1.64 s per
    request at 1M).  Missing components (a dim never touched by the
    doc's terms) pack as 0 — the same value the long form's absent row
    contributes to every aggregation."""
    ent = (dv.groupBy("doc_id")
           .agg(F.map_from_entries(
               F.array_sort(F.collect_list(F.struct("i", "dv"))))
               .alias("m")))
    emb = F.expr(f"transform(sequence(1, {dim}), "
                 "j -> coalesce(element_at(m, j), cast(0.0 as double)))")
    return ent.select("doc_id", emb.alias("emb"))


def packed_cosine_scores_batch(packed: DataFrame,
                               qv_map: dict[int, list[tuple[int, float]]],
                               score_alpha: float,
                               metric: str = "cosine") -> DataFrame:
    """(query_id, doc_id, score) over a packed embedding table for a
    query batch (a single request is a batch of one): one mapInArrow
    pass computing dot/norm/transform for the docs×queries block as a
    numpy matmul — no per-component join rows, no shuffle (the scorer
    is a map).  ``metric`` matches
    :meth:`DenseVectorSearcher.with_metric`: cosine keeps the NaiveIndex
    dist = 1 − cos, euclidean the BruteTree L2.  A narrow query
    embedding (trailing zero dims omitted) pads to the stored width; a
    zero doc vector scores cos 0.  Queries with zero norm are dropped,
    as the long-form scorer drops them.  Row blocking keeps every
    docs×queries tile under ~4M elements (measured alloc-pressure
    ceiling)."""
    import numpy as np
    from garamond_jl_spark.functions.scoring import score_transform_np
    import pyarrow as pa

    qids = sorted(qv_map)
    dim = max((i for rows in qv_map.values() for i, _ in rows), default=0)
    Q = np.zeros((len(qids), dim))
    for r, qid in enumerate(qids):
        for i, v in qv_map[qid]:
            Q[r, i - 1] = v
    nq = np.linalg.norm(Q, axis=1)
    live = nq > 0.0
    qid_arr = np.asarray(qids, dtype=np.int32)[live]
    Q, nq = Q[live], nq[live]
    alpha = float(score_alpha)
    euclid = metric == "euclidean"
    out_schema = "query_id INT, doc_id LONG, score DOUBLE"
    if len(qid_arr) == 0:
        return local_frame(packed.sparkSession, [], out_schema)

    def _score(batches):
        for b in batches:
            ids_col = b.column(b.schema.get_field_index("doc_id"))
            vecs = b.column(b.schema.get_field_index("emb"))
            if len(vecs) == 0:
                continue
            flat = vecs.flatten().to_numpy(zero_copy_only=False)
            X = np.asarray(flat, dtype=np.float64).reshape(len(vecs), -1)
            Qb = Q
            if X.shape[1] != Qb.shape[1]:
                # narrow query embeddings pad to the stored width
                Qb = np.zeros((Q.shape[0], X.shape[1]))
                w = min(Q.shape[1], X.shape[1])
                Qb[:, :w] = Q[:, :w]
            nd = np.linalg.norm(X, axis=1)
            if not euclid:
                nd[nd == 0.0] = np.inf        # zero vector → cos 0
            ids = np.asarray(ids_col.to_numpy(zero_copy_only=False),
                             dtype=np.int64)
            nq_row = nq[None, :]
            block = max(1, 4_000_000 // max(1, Qb.shape[0]))
            for s in range(0, X.shape[0], block):
                Xs, nds, idss = X[s:s + block], nd[s:s + block], ids[s:s + block]
                if euclid:
                    d = np.sqrt(np.maximum(
                        nds[:, None] ** 2 + nq_row ** 2
                        - 2.0 * (Xs @ Qb.T), 0.0))
                else:
                    d = 1.0 - (Xs @ Qb.T) / (nds[:, None] * nq_row)
                score = score_transform_np(d, alpha)
                n = Xs.shape[0]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.tile(qid_arr, n), type=pa.int32()),
                     pa.array(np.repeat(idss, len(qid_arr)), type=pa.int64()),
                     pa.array(score.ravel(), type=pa.float64())],
                    names=["query_id", "doc_id", "score"])

    return (packed.select("doc_id", "emb")
            .mapInArrow(_score, out_schema))


def doc_norms(dv: DataFrame) -> DataFrame:
    """(doc_id, nd): the L2 norm of every long-form vector."""
    return dv.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("dv") ** 2))
                                    .alias("nd"))


def query_norms(qv_map: dict[int, list[tuple[int, float]]]
                ) -> dict[int, float]:
    """{query_id: ‖q‖} over the LIVE queries of a driver-collected
    batch: a zero-norm query has no embedded component, so it is OOV
    for a cosine scorer (the is_embedded gate, at no job's cost)."""
    nq = {q: math.sqrt(sum(v * v for _, v in r)) for q, r in qv_map.items()}
    return {q: n for q, n in nq.items() if n > 0.0}


def _query_dots(dv: DataFrame,
                qv_map: dict[int, list[tuple[int, float]]],
                nq: dict[int, float],
                cand: DataFrame | None = None) -> DataFrame:
    """(query_id, nq, doc_id, dot) of the collected query vectors of
    the queries in ``nq`` against a long-form table (doc_id, i, dv):
    every doc sharing a component with a query, or with ``cand``
    (query_id, doc_id) only each query's candidate pairs.  The query
    norm rides the query rows as a group key, so no norm table is
    joined (or broadcast) afterwards."""
    qv = local_frame(dv.sparkSession,
        [(q, i, v, nq[q]) for q in sorted(nq) for i, v in qv_map[q]],
        "query_id INT, i INT, qv DOUBLE, nq DOUBLE")
    pairs = (dv.join(F.broadcast(qv), "i") if cand is None
             else cand.join(dv, "doc_id").join(qv, ["query_id", "i"]))
    return (pairs.groupBy("query_id", "nq", "doc_id")
            .agg(F.sum(F.col("dv") * F.col("qv")).alias("dot")))


def cosine_scores(dv: DataFrame, qv_map: dict[int, list[tuple[int, float]]],
                  nq: dict[int, float], cand: DataFrame | None = None,
                  norms: DataFrame | None = None) -> DataFrame:
    """The one long-form cosine scorer: driver-collected query vectors
    ``qv_map`` {query_id: [(i, qv)]} with their norms ``nq``
    (:func:`query_norms`; only its queries are scored) against the
    long-form table ``dv`` → (query_id, doc_id, cos), over ``cand``'s
    (query_id, doc_id) pairs when given (an ANN probe's output).
    ``norms`` is :func:`doc_norms` of ``dv`` (computed when omitted).

    Zero-norm guard: a zero doc vector scores cos 0 like the packed
    kernel, not 0/0 = NaN, which Spark's descending sort ranks ABOVE
    every real hit."""
    if norms is None:
        norms = doc_norms(dv)
    return (_query_dots(dv, qv_map, nq, cand).join(norms, "doc_id")
            .select("query_id", "doc_id",
                    F.when(F.col("nd") > 0,
                           F.col("dot") / (F.col("nd") * F.col("nq")))
                    .otherwise(F.lit(0.0)).alias("cos")))


def cosine_topk(dv: DataFrame, qv_map: dict[int, list[tuple[int, float]]],
                k: int, tiebreak_round: int | None = None,
                cand: DataFrame | None = None) -> DataFrame:
    """Cosine top-k of a long-form doc-embedding table (doc_id, i, dv)
    for a batch of driver-collected query vectors {query_id: [(i, qv)]}
    → (query_id, doc_id, score = cos, rank): :func:`cosine_scores`
    plus the rank tail shared by every embedder and the ANN searches
    (``operators.ann.ann_*_search`` pass their probe's pairs as
    ``cand``).  Ties break on round(score, ``tiebreak_round``), then
    doc_id.  A zero-norm query returns no rows.

    A single query is a batch of one and ranks with orderBy + limit
    (TakeOrderedAndProject: per-partition top-k merged on the driver,
    no ranking exchange); a larger batch ranks with a per-query
    window."""
    nq = query_norms(qv_map)
    if not nq:
        return local_frame(dv.sparkSession, [],
                           "query_id INT, doc_id LONG, score DOUBLE, rank INT")
    cosd = cosine_scores(dv, qv_map, nq, cand).withColumnRenamed("cos",
                                                                 "score")
    rank_on = (F.round(F.col("score"), tiebreak_round)
               if tiebreak_round is not None else F.col("score"))
    order = [rank_on.desc(), F.col("doc_id").asc()]
    if len(nq) == 1:
        top = cosd.orderBy(*order).limit(k)
        ranked = top.withColumn("rank",
                                F.row_number().over(Window.orderBy(*order)))
    else:
        w = Window.partitionBy("query_id").orderBy(*order)
        ranked = (cosd.withColumn("rank", F.row_number().over(w))
                  .where(F.col("rank") <= k))
    return ranked.select("query_id", "doc_id", "score", "rank")


def boe_topk(spark: SparkSession, tokens: DataFrame,
             word_vectors: DataFrame, query: str, k: int = 10,
             tiebreak_round: int | None = None) -> DataFrame:
    """BOE cosine top-k for one query: (query_id = 0, doc_id, score,
    rank).  Brute-force over the doc-embedding table (the NaiveIndex
    analog, naive.jl:15-32); :func:`operators.ann.ann_lsh_search` is
    the sublinear variant over the same long-form embeddings.  The
    scorer and ranking tail are :func:`cosine_topk` — one shared
    definition of the round(score, r) + doc_id convention."""
    dv = boe_doc_embeddings(tokens, word_vectors)
    qv_rows = [(int(r["i"]), float(r["qv"]))
               for r in boe_embed_query(spark, query,
                                        word_vectors).collect()]
    return cosine_topk(dv, {0: qv_rows}, k, tiebreak_round)
