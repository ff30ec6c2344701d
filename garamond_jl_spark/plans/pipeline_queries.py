"""Training-data pipeline operators with DuckDB-parity oracles.

Beyond the reference's own surface (per the build brief): deduplication
(exact / MinHash+LSH / SimHash / n-gram Jaccard), similarity search over
embeddings (brute-force cosine baseline + deterministic hyperplane-LSH
bucketing as the scale path), and text analysis (language-ID heuristic,
quality scoring, token counting, fingerprinting).

Cross-engine determinism tactics:

* all hashing is md5 (identical hex output in Spark and DuckDB); MinHash
  = min over md5 strings (byte-order string min, no float math);
* SimHash uses md5 *nibble* high-bits with integer tf-weighted votes —
  pure integer math both sides;
* Jaccard = one division of exact integer counts → bit-identical;
* cosine outputs are ranked on round(·, 6) with id tiebreaks.

Everything stays in DataFrame expressions / higher-order functions —
no Python UDFs (the north-rule constraint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from garamond_jl_spark.config import EngineConfig
from garamond_jl_spark.operators import semantic as _SEM
from garamond_jl_spark.operators.ann import (ANN_PLANES, ANN_PROBE_RADIUS,
                                             IVF_CENTROIDS, IVF_PROBE,
                                             ann_hnsw_search, ann_ivf_search,
                                             ann_lsh_search, lsh_buckets,
                                             probe_masks)
from garamond_jl_spark.operators.build import InvertedIndex, build_index
from garamond_jl_spark.plans.testdata_queries import ORACLES, QUERIES, e6, q
from garamond_jl_spark.session import local_frame
from garamond_jl_spark.sources.tables import load_testdata

__all__ = ["QUERIES", "ORACLES"]

N_BANDS = 6
JACCARD_T = 0.8
HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")

# ---- shared SQL fragments -------------------------------------------------

SHINGLES_CTE = """
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
shd AS (SELECT DISTINCT doc_id, s FROM sh),
ssz AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY 1)
"""

# candidate-generation df cap: a shingle shared by more than this many
# docs (license headers, boilerplate) is excluded from the pair-making
# self-join — the quadratic term becomes O(cap·|docs-with-capped|)
# instead of O(hot_df²).  Verification still counts ALL shingles, so any
# candidate's Jaccard is exact; only pairs whose ENTIRE overlap is
# boilerplate can be missed, which at t=0.8 requires a doc made of
# boilerplate (route those through dedup_minhash_lsh / dedup_exact).
MAX_SHINGLE_DF = 32

JACCARD_PAIRS_SQL = f"""
WITH {SHINGLES_CTE},
sdf AS (SELECT s, count(*) AS df FROM shd GROUP BY 1),
capped AS (SELECT shd.doc_id, shd.s FROM shd JOIN sdf USING (s)
           WHERE df <= {MAX_SHINGLE_DF}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c JOIN shd x ON x.doc_id = c.doc_a
  JOIN shd y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       cast(round(i * 1.0 / (x.n + y.n - i) * 1e6) AS BIGINT) AS jacc_e6
FROM inter JOIN ssz x ON x.doc_id = doc_a JOIN ssz y ON y.doc_id = doc_b
WHERE i * 1.0 / (x.n + y.n - i) >= {JACCARD_T}
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingles per doc, pure SQL functions (no UDF).
    Matches the DuckDB list_transform fragment element-for-element."""
    return shingles_from(load_testdata(spark, sf_dir, "documents"))


def shingles_from(d: DataFrame) -> DataFrame:
    """(doc_id, text) → distinct word-3-gram shingles (doc_id, s).

    Plan note: an earlier version built the shingle list with
    ``transform(sequence(0, n-3), i -> concat_ws(' ', t[i], t[i+1],
    t[i+2]))`` — higher-order-function lambdas run on Catalyst's
    INTERPRETED path (no whole-stage codegen), measured at ~31 µs per
    shingle (8.3 s for 260k rows at sf0.1).  posexplode + two
    windowed ``lead``s is fully codegen'd and 40× faster; the window
    partitions by doc_id (bounded by document length — no skew at any
    corpus size).  Output set is identical (oracle SQL unchanged).

    r6 note: a zero-shuffle doc-local mapInArrow variant was measured
    and REJECTED — the Python boundary (text out, shingle strings back,
    cache build from Python-produced rows) cost more than the two
    shuffles it removed at every local scale tried (probe in
    OPTIMIZATION_r06.md; same verdict as the r5 norms="arrow" tier)."""
    w = Window.partitionBy("doc_id").orderBy("p")
    return (d.select("doc_id", F.posexplode(F.split("text", " "))
                     .alias("p", "w"))
            .select("doc_id", F.col("w").alias("w0"),
                    F.lead("w", 1).over(w).alias("w1"),
                    F.lead("w", 2).over(w).alias("w2"))
            .where(F.col("w2").isNotNull())
            .select("doc_id",
                    F.concat_ws(" ", "w0", "w1", "w2").alias("s"))
            .distinct())


def _jaccard_pairs(shd: DataFrame,
                   max_shingle_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Candidate pairs from a df-capped shingle self-join, Jaccard
    verified over ALL shingles.  The cap bounds the self-join's per-key
    fan-out (a shingle with df=d yields d² pair rows — unbounded on
    boilerplate without the cap)."""
    sdf = shd.groupBy("s").agg(F.count("*").alias("df"))
    capped = (shd.join(sdf.where(F.col("df") <= max_shingle_df)
                       .select("s"), "s"))
    a = capped.alias("a")
    b = capped.alias("b")
    cand = (a.join(b, (F.col("a.s") == F.col("b.s"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    return _jaccard_verify(cand, shd)


def _jaccard_verify(cand: DataFrame, shd: DataFrame) -> DataFrame:
    """Candidate pairs (doc_a, doc_b) → (doc_a, doc_b, jacc): the exact
    Jaccard over ALL of ``shd``'s (doc_id, s) shingles, one integer
    division of the intersection and the two set sizes."""
    x = shd.select(F.col("doc_id").alias("doc_a"), "s")
    y = shd.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s2"))
    inter = (cand.join(x, "doc_a").join(y, "doc_b")
             .where(F.col("s") == F.col("s2"))
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i")))
    ssz = shd.groupBy("doc_id").agg(F.count("*").alias("n"))
    return (inter
            .join(ssz.select(F.col("doc_id").alias("doc_a"),
                             F.col("n").alias("na")), "doc_a")
            .join(ssz.select(F.col("doc_id").alias("doc_b"),
                             F.col("n").alias("nb")), "doc_b")
            .withColumn("jacc", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))))


# --------------------------------------------------------------------------
# Deduplication family
# --------------------------------------------------------------------------

@q("dedup_exact",
   "SELECT md5(text) AS h, min(doc_id) AS keep_doc_id, count(*) AS n "
   "FROM documents GROUP BY 1")
def dedup_exact(spark, sf_dir):
    """Exact dedup: content-hash groups, survivor = min doc_id."""
    d = load_testdata(spark, sf_dir, "documents")
    return (d.select(F.md5("text").alias("h"), "doc_id")
            .groupBy("h")
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n")))


@q("streaming_dedup_first_seen",
   "SELECT md5(text) AS h, cast(min(doc_id) AS BIGINT) AS keep_doc_id "
   "FROM documents GROUP BY 1")
def streaming_dedup_first_seen(spark, sf_dir):
    """Custom STATEFUL streaming operator (applyInPandasWithState,
    streaming/stateful.py): first-seen dedup keyed by content hash —
    drains the documents table as a file-source stream and emits one
    survivor row per hash.  With a single micro-batch the survivor set
    equals the batch dedup_exact semantics (min doc_id per md5 group),
    which is what the oracle checks; the cross-batch suppression and
    checkpoint-restart state persistence are covered by
    tests/test_stateful_streaming.py."""
    import os
    import tempfile

    from garamond_jl_spark.streaming.stateful import stream_dedup_first_seen
    tmp = tempfile.mkdtemp(prefix="gjs_stream_dedup_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    os.symlink(os.path.abspath(os.path.join(sf_dir, "documents.parquet")),
               os.path.join(src, "documents.parquet"))
    schema = ("doc_id LONG, text STRING, lang STRING, source STRING, "
              "n_chars LONG")
    return stream_dedup_first_seen(spark, src, schema,
                                   os.path.join(tmp, "out"))


@q("dedup_ngram_jaccard", JACCARD_PAIRS_SQL)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-dup pairs by word-3-gram Jaccard ≥ 0.8.  Candidates come
    from a df-capped shingle self-join (MAX_SHINGLE_DF bounds the
    quadratic fan-out on boilerplate shingles); Jaccard is verified
    exactly over all shingles.  Production dedup routes through
    dedup_minhash_lsh — this is the exact verifier.  Integer-count
    division → bit-identical."""
    jacc = _jaccard_pairs(_shingles(spark, sf_dir))
    return (jacc.where(F.col("jacc") >= JACCARD_T)
            .select("doc_a", "doc_b", e6(F.col("jacc")).alias("jacc_e6")))


@q("dedup_minhash_lsh", f"""
WITH {SHINGLES_CTE},
sig AS (
  SELECT doc_id, b.band,
         min(md5(cast(b.band AS VARCHAR) || ':' || s)) AS mh
  FROM shd CROSS JOIN (SELECT unnest(range({N_BANDS})) AS band) b
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c JOIN shd x ON x.doc_id = c.doc_a
  JOIN shd y ON y.doc_id = c.doc_b AND y.s = x.s
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       cast(round(i * 1.0 / (x.n + y.n - i) * 1e6) AS BIGINT) AS jacc_e6
FROM inter JOIN ssz x ON x.doc_id = doc_a JOIN ssz y ON y.doc_id = doc_b
WHERE i * 1.0 / (x.n + y.n - i) >= {JACCARD_T}
""")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: shingle → per-band min-md5 signature →
    band-bucket join for candidates → exact Jaccard verification.
    The scale path: candidate generation is |bands|·|docs| rows, the
    quadratic verify only touches bucket-colliding pairs.  The plan is
    returned lazily: the shingle table is evaluated once per action
    (one Window) into an exchange that the signature, verify and size
    consumers all read (see :func:`minhash_lsh_pairs`)."""
    # legacy md5/r=1 knobs passed explicitly: this wrapper exists for
    # DuckDB hash parity only (see minhash_lsh_pairs docstring)
    jacc = minhash_lsh_pairs(_shingles(spark, sf_dir), int_hash=False,
                             n_rows=1, bucket_cap=None)
    return (jacc.where(F.col("jacc") >= JACCARD_T)
            .select("doc_a", "doc_b", e6(F.col("jacc")).alias("jacc_e6")))


def minhash_lsh_pairs(shd: DataFrame, n_bands: int = N_BANDS,
                      int_hash: bool = True, n_rows: int = 2,
                      bucket_cap: int | None = 64) -> DataFrame:
    """shd(doc_id, s) → candidate near-dup pairs with exact Jaccard
    (doc_a, doc_b, jacc).  b×r banded min-hash signatures; candidates
    from band-equality; verify over all shingles.

    Scale knobs (the 1M-doc bench found the r=1 default DEGENERATE on a
    Zipf corpus — a df=250k boilerplate shingle becomes the band min of
    every doc containing it, one bucket holds 240k docs, and the
    self-join implies 5×10¹⁰ candidate pairs):

    * ``n_rows=r``: r independent min-hashes per band, bucket key =
      their concatenation — collision prob drops from J to J^r, which
      collapses hot-shingle mega-buckets (both mins must coincide).
    * ``bucket_cap``: buckets larger than this are excluded from pair
      generation (docs sharing only a boilerplate min carry no
      Jaccard≥t evidence; a true near-dup pair has n_bands−1 other
      chances).
    * ``int_hash=True``: xxhash64 (8 bytes) instead of md5 hex (32
      chars) — ~4× less signature-shuffle IO.

    The DEFAULTS are the production knobs (int_hash=True, n_rows=2,
    bucket_cap=64 — the shape the 1M-doc bench verified survives the
    degenerate corpus, BENCH.md); the DuckDB parity wrapper passes the
    legacy md5/r=1/no-cap values EXPLICITLY because its oracle shares
    that arithmetic — no non-parity caller should inherit the shape the
    bench proved dies at 1M docs."""
    # five consumers read shd: the signature, the two verify sides and
    # the two set sizes.  The shingle Window's doc_id partitioning
    # already satisfies the distinct, so no exchange sits above the
    # shingles and each consumer's stage re-ran Window + distinct.  One
    # exchange here is the subtree they all read (a ReusedExchange).
    # Both columns: a bare doc_id is planned away as already satisfied
    shd = shd.repartition("doc_id", "s")
    bands = F.explode(F.array(*[F.lit(i) for i in range(n_bands)])).alias("band")
    base = shd.select("doc_id", "s", bands)
    mh_cols = []
    for j in range(n_rows):
        mh = (F.xxhash64("band", F.lit(j), "s") if int_hash
              else F.md5(F.concat_ws(":", F.col("band"), F.lit(j), F.col("s")))
              ) if (n_rows > 1 or j > 0) else (
            F.xxhash64("band", "s") if int_hash
            else F.md5(F.concat_ws(":", F.col("band"), F.col("s"))))
        mh_cols.append(F.min(mh).alias(f"mh{j}"))
    sig = base.groupBy("doc_id", "band").agg(*mh_cols)
    keys = ["band"] + [f"mh{j}" for j in range(n_rows)]
    if bucket_cap is not None:
        ok = (sig.groupBy(*keys).agg(F.count("*").alias("_c"))
              .where(F.col("_c") <= bucket_cap).drop("_c"))
        sig = sig.join(ok, keys, "left_semi")
    a, b = sig.alias("a"), sig.alias("b")
    cond = (F.col("a.doc_id") < F.col("b.doc_id"))
    for kcol in keys:
        cond = cond & (F.col(f"a.{kcol}") == F.col(f"b.{kcol}"))
    cand = (a.join(b, cond)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    return _jaccard_verify(cand, shd)


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN substring(h, {j + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN tf ELSE -tf END) AS v{j}"
        for j in range(16))
    bits = " + ".join(f"(CASE WHEN v{j} >= 0 THEN {1 << j} ELSE 0 END)"
                      for j in range(16))
    return f"""
WITH tok AS (
  SELECT d.doc_id, t.term FROM documents d,
  unnest(string_split(d.text, ' ')) AS t(term) WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
hashed AS (SELECT doc_id, md5(term) AS h, tf FROM tf),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY 1)
SELECT doc_id, cast({bits} AS BIGINT) AS simhash16 FROM votes
"""


@q("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    """SimHash (16-bit demo width): tf-weighted integer votes over md5
    nibble high-bits — near-dups land at small Hamming distance.  Pure
    integer math, engine-exact."""
    d = load_testdata(spark, sf_dir, "documents")
    tok = (d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
           .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    hashed = tf.select("doc_id", F.md5("term").alias("h"), "tf")
    votes = [F.sum(F.when(F.substring("h", j + 1, 1).isin(*HEX_HIGH),
                          F.col("tf")).otherwise(-F.col("tf"))).alias(f"v{j}")
             for j in range(16)]
    agg = hashed.groupBy("doc_id").agg(*votes)
    bits = None
    for j in range(16):
        term = F.when(F.col(f"v{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bits = term if bits is None else bits + term
    return agg.select("doc_id", bits.cast("long").alias("simhash16"))


SIMHASH_HAM_T = 3   # near-dup threshold over 64 bits
SIMHASH_BANDS = 4   # 16-bit bands: pigeonhole guarantees recall at ham ≤ 3


def _nib_sql(i: int) -> str:
    """Hex nibble i (1-based) of column h as an int (DuckDB strpos)."""
    return f"(strpos('0123456789abcdef', substring(h, {i}, 1)) - 1)"


def _simhash64_cte() -> str:
    """DuckDB CTE chain ending in sh(doc_id, sh_hi, sh_lo): 64-bit
    SimHash from md5 nibbles (2 bits per nibble), tf-weighted integer
    votes — engine-exact."""
    votes = ", ".join(
        f"sum(CASE WHEN (({_nib_sql(j // 2 + 1)}) & {1 << (j % 2)}) > 0 "
        f"THEN tf ELSE -tf END) AS v{j}" for j in range(64))
    lo = " + ".join(f"(CASE WHEN v{j} >= 0 THEN {1 << j} ELSE 0 END)"
                    for j in range(32))
    hi = " + ".join(f"(CASE WHEN v{j} >= 0 THEN {1 << (j - 32)} ELSE 0 END)"
                    for j in range(32, 64))
    return f"""
tok AS (
  SELECT d.doc_id, t.term FROM documents d,
  unnest(string_split(d.text, ' ')) AS t(term) WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
hashed AS (SELECT doc_id, md5(term) AS h, tf FROM tf),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY 1),
sh AS (SELECT doc_id, cast({hi} AS BIGINT) AS sh_hi,
       cast({lo} AS BIGINT) AS sh_lo FROM votes)
"""


# per-task cap on the term → sign-vector memo inside the SimHash Arrow
# pass: Zipf reuse makes the hit rate high, but an unbounded dict over
# a 10^8-term corpus vocabulary would OOM a worker (64 B/entry + key).
# Past the cap the oldest half (insertion order) is dropped rather than
# the whole memo, so the newer half keeps answering without re-hashing
_SIMHASH_SIGN_CACHE_CAP = 1_000_000


def _simhash64_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh_hi, sh_lo) — Spark mirror of :func:`_simhash64_cte`.

    Plan note (r6, guide §2.4 + §4.2): SimHash is DOC-LOCAL math — every
    vote bit depends only on the document's own tokens — so the whole
    signature is computed in ONE ``mapInArrow`` pass with zero shuffles.
    The previous relational plan paid two full-token shuffles
    (``groupBy(doc_id, term)`` then ``groupBy(doc_id)``) and its 64
    conditional sum aggregates ran on Catalyst's interpreted path (the
    >100-field projection disables whole-stage codegen; the r6 plan
    had no codegen span at all, OPTIMIZATION_r06.md "dedup_simhash64").
    Vote math here is vectorized NumPy: one ±1 sign matrix row per
    distinct term (memoized per task — Zipf head terms hash once), one
    integer matvec per document.  Integer-exact and engine-identical:
    md5 bytes are the same, tf-weighted votes are the same sums, so the
    DuckDB oracle hash is unchanged (gate-verified)."""
    import pyarrow as pa

    # input stays at its natural split count: widening a single-split
    # scan first (repartition to 2·cores) measured SLOWER in an
    # interleaved A/B (1.61 s vs 1.04 s per pairs run at sf0.1) — the
    # shuffle costs more than the single-task Python pass it spreads,
    # and large corpora arrive multi-split anyway
    d = load_testdata(spark, sf_dir, "documents")

    def simhash(batches):
        import hashlib
        from itertools import islice

        import numpy as np

        # hex char i (1-based) of md5 = high/low nibble of byte (i-1)//2;
        # vote j reads bit (j%2) of nibble j//2+1 → per term a length-64
        # ±1 sign vector (int64 so the tf matvec never overflows)
        sign_cache: dict[str, "np.ndarray"] = {}

        def signs(term: str) -> "np.ndarray":
            s = sign_cache.get(term)
            if s is None:
                dig = np.frombuffer(
                    hashlib.md5(term.encode()).digest(), np.uint8)
                nibs = np.empty(32, np.uint8)
                nibs[0::2] = dig >> 4      # hex chars 1,3,5,...
                nibs[1::2] = dig & 15      # hex chars 2,4,6,...
                bits = (nibs.repeat(2) >> np.tile([0, 1], 32)) & 1
                s = (2 * bits.astype(np.int64) - 1)
                sign_cache[term] = s
                cap = _SIMHASH_SIGN_CACHE_CAP
                if len(sign_cache) > cap:
                    # oldest half out, as query._evict_oldest (not
                    # imported: the worker would load the engine)
                    for t in list(islice(sign_cache,
                                         len(sign_cache) - cap // 2)):
                        del sign_cache[t]
            return s

        weights = (np.int64(1) << np.arange(32, dtype=np.int64))
        for b in batches:
            ids = b.column(b.schema.get_field_index("doc_id")).to_pylist()
            texts = b.column(b.schema.get_field_index("text")).to_pylist()
            out_id, out_hi, out_lo = [], [], []
            for doc_id, text in zip(ids, texts):
                counts: dict[str, int] = {}
                for t in (text or "").split(" "):
                    if t:
                        counts[t] = counts.get(t, 0) + 1
                if not counts:
                    continue   # no tokens ⇒ no votes row (matches the
                               # relational plan: no tf rows ⇒ no doc)
                votes = np.zeros(64, np.int64)
                for term, tf in counts.items():
                    votes += tf * signs(term)
                bits = votes >= 0
                out_id.append(doc_id)
                out_lo.append(int(weights[bits[:32]].sum()))
                out_hi.append(int(weights[bits[32:64]].sum()))
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_id, pa.int64()),
                 pa.array(out_hi, pa.int64()),
                 pa.array(out_lo, pa.int64())],
                ["doc_id", "sh_hi", "sh_lo"])

    return d.select("doc_id", "text").mapInArrow(
        simhash, "doc_id long, sh_hi long, sh_lo long")


@q("dedup_simhash64", f"""
WITH {_simhash64_cte()}
SELECT doc_id, sh_hi, sh_lo FROM sh
""")
def dedup_simhash64(spark, sf_dir):
    """64-bit SimHash as two 32-bit halves (BIGINT each — a single
    64-bit value would overflow the signed range on bit 63)."""
    return _simhash64_df(spark, sf_dir)


@q("dedup_simhash_pairs", f"""
WITH {_simhash64_cte()},
bands AS (
  SELECT doc_id, b.band,
         CASE b.band WHEN 0 THEN sh_lo & 65535
                     WHEN 1 THEN (sh_lo >> 16) & 65535
                     WHEN 2 THEN sh_hi & 65535
                     ELSE (sh_hi >> 16) & 65535 END AS chunk
  FROM sh CROSS JOIN (SELECT unnest(range({SIMHASH_BANDS})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bands a JOIN bands b2
    ON a.band = b2.band AND a.chunk = b2.chunk AND a.doc_id < b2.doc_id
)
SELECT c.doc_a, c.doc_b,
       cast(bit_count(xor(x.sh_lo, y.sh_lo)) +
            bit_count(xor(x.sh_hi, y.sh_hi)) AS BIGINT) AS ham
FROM cand c JOIN sh x ON x.doc_id = c.doc_a
JOIN sh y ON y.doc_id = c.doc_b
WHERE bit_count(xor(x.sh_lo, y.sh_lo)) +
      bit_count(xor(x.sh_hi, y.sh_hi)) <= {SIMHASH_HAM_T}
""")
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs at scale: 4×16-bit banded candidate join
    (pigeonhole: any pair within Hamming ≤ 3 shares ≥1 exact band) →
    exact popcount verify.  No all-pairs join anywhere — the quadratic
    term is bounded per 16-bit band bucket.

    Plan note: the signature is read once.  Each band row carries its
    document's ``sh_hi``/``sh_lo``, so the band self-join computes the
    Hamming distance on the joined row and no verify join reads the
    signature again.  The ``repartition`` on the join key is the one
    exchange both sides read (the second side is a ``ReusedExchange``),
    so the ``mapInArrow`` SimHash pass is evaluated once per action."""
    band_structs = [
        F.struct(F.lit(0).alias("band"),
                 F.expr("sh_lo & 65535").alias("chunk")),
        F.struct(F.lit(1).alias("band"),
                 F.expr("shiftright(sh_lo, 16) & 65535").alias("chunk")),
        F.struct(F.lit(2).alias("band"),
                 F.expr("sh_hi & 65535").alias("chunk")),
        F.struct(F.lit(3).alias("band"),
                 F.expr("shiftright(sh_hi, 16) & 65535").alias("chunk")),
    ]
    bands = (_simhash64_df(spark, sf_dir)
             .select("doc_id", "sh_hi", "sh_lo",
                     F.explode(F.array(*band_structs)).alias("bc"))
             .select("doc_id", "sh_hi", "sh_lo", "bc.band", "bc.chunk")
             .repartition("band", "chunk"))
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.expr("bit_count(a.sh_lo ^ b.sh_lo)"
                 " + bit_count(a.sh_hi ^ b.sh_hi)")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    ham.cast("long").alias("ham"))
            .where(F.col("ham") <= SIMHASH_HAM_T)
            .distinct())


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

EMB_NORM_CTE = """
u AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         unnest(embedding)::DOUBLE AS v
  FROM embeddings
),
nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS nv FROM u GROUP BY 1)
"""

N_PLANES = 8          # bucket-assignment query (256 buckets)
ANN_QUERY_IDS = (0, 1, 2)
ANN_K = 10


def _vocab_hits(wv, terms):
    """Which of ``terms`` exist in the word-vector vocabulary — an
    isin-filtered collect of a handful of rows (collecting the full
    distinct vocabulary pulled the corpus dictionary through the
    driver just to membership-test a 3-term query)."""
    uniq = list(dict.fromkeys(terms))
    if not uniq:
        return set()
    return {r["term"] for r in
            wv.select("term").where(F.col("term").isin(uniq))
            .distinct().collect()}


def _lsh_bucket_cte(n_planes: int) -> str:
    """Deterministic random-hyperplane buckets (md5(plane:dim) high-bit
    signs) as a SQL CTE chain ending in ``bkt(vec_id, bucket)``."""
    return f"""
planes AS (
  SELECT p.p, u2.i,
         CASE WHEN substring(md5(cast(p.p AS VARCHAR) || ':' ||
                             cast(u2.i AS VARCHAR)), 1, 1)
              IN ('8','9','a','b','c','d','e','f') THEN 1.0 ELSE -1.0 END AS sgn
  FROM (SELECT unnest(range({n_planes})) AS p) p
  CROSS JOIN (SELECT DISTINCT i FROM u) u2
),
proj AS (
  SELECT u.vec_id, pl.p, sum(u.v * pl.sgn) AS dot
  FROM u JOIN planes pl USING (i) GROUP BY 1, 2
),
bkt AS (
  SELECT vec_id,
         cast(sum(CASE WHEN dot >= 0 THEN power(2, p) ELSE 0 END) AS BIGINT)
         AS bucket
  FROM proj GROUP BY 1
)
"""


LSH_BUCKET_CTE = _lsh_bucket_cte(N_PLANES)


def _emb_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → long form (vec_id, i, v) with 1-based dims, matching
    DuckDB's generate_subscripts."""
    return _long_form(load_testdata(spark, sf_dir, "embeddings"))


def _long_form(e: DataFrame) -> DataFrame:
    """(vec_id, embedding) → (vec_id, i, v), 1-based ``i``."""
    return (e.select("vec_id",
                     F.posexplode(F.col("embedding").cast("array<double>"))
                     .alias("i", "v"))
            .withColumn("i", F.col("i") + 1))


@q("ann_cosine_topk", f"""
WITH {EMB_NORM_CTE},
qv AS (SELECT i, v FROM u WHERE vec_id = 0),
qn AS (SELECT sqrt(sum(v * v)) AS nq FROM qv),
dots AS (
  SELECT u.vec_id, sum(u.v * qv.v) AS dot
  FROM u JOIN qv USING (i) WHERE u.vec_id <> 0 GROUP BY 1
),
cosd AS (
  SELECT d.vec_id, d.dot / (n.nv * (SELECT nq FROM qn)) AS c
  FROM dots d JOIN nrm n USING (vec_id)
)
SELECT vec_id, cast(round(c * 1e6) AS BIGINT) AS cos_e6,
       row_number() OVER (ORDER BY round(c, 6) DESC, vec_id ASC) AS rnk
FROM cosd QUALIFY rnk <= 10
""")
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k over array<float> embeddings — the exact
    ANN baseline.  Dot products via higher-order functions (zip_with +
    aggregate), JVM-side, no UDF."""
    e = load_testdata(spark, sf_dir, "embeddings")
    e = e.withColumn("emb", F.col("embedding").cast("array<double>"))
    qv = e.where(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    dot = F.expr("aggregate(zip_with(emb, qe, (x, y) -> x * y), "
                 "cast(0.0 as double), (acc, z) -> acc + z)")
    nrm = F.sqrt(F.expr("aggregate(transform(emb, x -> x * x), "
                        "cast(0.0 as double), (acc, z) -> acc + z)"))
    qn = F.sqrt(F.expr("aggregate(transform(qe, x -> x * x), "
                       "cast(0.0 as double), (acc, z) -> acc + z)"))
    cosd = (e.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
            .select("vec_id", (dot / (nrm * qn)).alias("c")))
    w = Window.orderBy(F.round(F.col("c"), 6).desc(), F.col("vec_id").asc())
    return (cosd.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= 10)
            .select("vec_id", e6(F.col("c")).alias("cos_e6"), "rnk"))


@q("ann_lsh_buckets", f"""
WITH {EMB_NORM_CTE},
{LSH_BUCKET_CTE}
SELECT vec_id, bucket FROM bkt
""")
def ann_lsh_buckets(spark, sf_dir):
    """Scale-path ANN stage 1: deterministic random-hyperplane LSH —
    ±1 hyperplanes derived from md5(plane:dim) high-bit, bucket = sign
    pattern.  Neighbor candidates at scale = bucket-equality join
    instead of the quadratic cross join."""
    return lsh_buckets(_emb_long(spark, sf_dir).toDF("doc_id", "i", "dv"),
                       N_PLANES, seed=None).toDF("vec_id", "bucket")


_ANN_MASK_VALUES = ", ".join(
    f"({m})" for m in probe_masks(ANN_PLANES, ANN_PROBE_RADIUS))


@q("ann_lsh_topk", f"""
WITH {EMB_NORM_CTE},
{_lsh_bucket_cte(ANN_PLANES)},
qb AS (SELECT vec_id AS query_id, bucket AS qbkt FROM bkt
       WHERE vec_id IN {ANN_QUERY_IDS}),
masks(m) AS (VALUES {_ANN_MASK_VALUES}),
probes AS (SELECT query_id, xor(qbkt, m) AS pbkt FROM qb CROSS JOIN masks),
cand AS (
  SELECT DISTINCT pr.query_id, b.vec_id
  FROM probes pr JOIN bkt b ON b.bucket = pr.pbkt
  WHERE b.vec_id <> pr.query_id
),
dots AS (
  SELECT c.query_id, c.vec_id, sum(u.v * uq.v) AS dot
  FROM cand c
  JOIN u ON u.vec_id = c.vec_id
  JOIN u uq ON uq.vec_id = c.query_id AND uq.i = u.i
  GROUP BY 1, 2
),
cosd AS (
  SELECT d.query_id, d.vec_id, d.dot / (n.nv * nq.nv) AS c
  FROM dots d JOIN nrm n ON n.vec_id = d.vec_id
  JOIN nrm nq ON nq.vec_id = d.query_id
)
SELECT query_id, vec_id, cast(round(c * 1e6) AS BIGINT) AS cos_e6,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY round(c, 6) DESC, vec_id ASC) AS rnk
FROM cosd QUALIFY rnk <= {ANN_K}
""")
def ann_lsh_topk(spark, sf_dir):
    """Parity wrapper: multiprobe LSH ANN over the embeddings table
    (see :func:`operators.ann.ann_lsh_search`).  The embedding width
    comes from one min/max agg over the array sizes, which also
    rejects ragged widths (a plane table sized by one row would
    silently drop the dimensions of longer vectors); the long form is
    built from the same read of the table."""
    e = load_testdata(spark, sf_dir, "embeddings")
    lo, hi = e.agg(F.min(F.size("embedding")),
                   F.max(F.size("embedding"))).first()
    if lo != hi:
        raise ValueError(f"ragged embeddings: widths range {lo}..{hi}")
    dim = int(hi or 0)
    return ann_lsh_search(_long_form(e), list(ANN_QUERY_IDS), ANN_K, dim=dim)


_IVF_QUERY_VALUES = ", ".join(f"({q})" for q in ANN_QUERY_IDS)


@q("ann_ivf_topk", f"""
WITH {EMB_NORM_CTE},
cent AS (
  SELECT vec_id AS cid, i, v AS cv FROM u WHERE vec_id < {IVF_CENTROIDS}
),
cnrm AS (SELECT cid, sqrt(sum(cv * cv)) AS nc FROM cent GROUP BY 1),
cdots AS (
  SELECT u.vec_id, c.cid, sum(u.v * c.cv) AS dot
  FROM u JOIN cent c USING (i) GROUP BY 1, 2
),
ccos AS (
  SELECT d.vec_id, d.cid, d.dot / (n.nv * cn.nc) AS c
  FROM cdots d JOIN nrm n USING (vec_id) JOIN cnrm cn USING (cid)
),
ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY round(c, 6) DESC, cid ASC) AS r
  FROM ccos
),
asg AS (SELECT vec_id, cid FROM ranked WHERE r = 1),
probes AS (
  SELECT vec_id AS query_id, cid FROM ranked
  WHERE r <= {IVF_PROBE}
    AND vec_id IN (SELECT q FROM (VALUES {_IVF_QUERY_VALUES}) AS qq(q))
),
cand AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes p JOIN asg a USING (cid)
  WHERE a.vec_id <> p.query_id
),
dots AS (
  SELECT c.query_id, c.vec_id, sum(x.v * y.v) AS dot
  FROM cand c JOIN u x ON x.vec_id = c.vec_id
  JOIN u y ON y.vec_id = c.query_id AND y.i = x.i
  GROUP BY 1, 2
),
cosd AS (
  SELECT d.query_id, d.vec_id, d.dot / (n.nv * nq.nv) AS c
  FROM dots d JOIN nrm n ON n.vec_id = d.vec_id
  JOIN nrm nq ON nq.vec_id = d.query_id
)
SELECT query_id, vec_id, cast(round(c * 1e6) AS BIGINT) AS cos_e6,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY round(c, 6) DESC, vec_id ASC) AS rnk
FROM cosd QUALIFY rnk <= {ANN_K}
""")
def ann_ivf_topk(spark, sf_dir):
    """Parity wrapper: IVF coarse-quantizer ANN over the embeddings
    table (see :func:`operators.ann.ann_ivf_search`)."""
    return ann_ivf_search(_emb_long(spark, sf_dir),
                          list(ANN_QUERY_IDS), ANN_K)


@q("ann_hnsw_topk", f"""
WITH {EMB_NORM_CTE},
dots AS (
  SELECT uq.vec_id AS query_id, u.vec_id, sum(u.v * uq.v) AS dot
  FROM u JOIN u uq ON uq.i = u.i
  WHERE uq.vec_id IN {ANN_QUERY_IDS} AND u.vec_id <> uq.vec_id
  GROUP BY 1, 2
),
cosd AS (
  SELECT d.query_id, d.vec_id, d.dot / (n.nv * nq.nv) AS c
  FROM dots d JOIN nrm n ON n.vec_id = d.vec_id
  JOIN nrm nq ON nq.vec_id = d.query_id
)
SELECT query_id, vec_id, cast(round(c * 1e6) AS BIGINT) AS cos_e6,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY round(c, 6) DESC, vec_id ASC) AS rnk
FROM cosd QUALIFY rnk <= {ANN_K}
""")
def ann_hnsw_topk(spark, sf_dir):
    """Parity wrapper: sharded-HNSW ANN over the embeddings table in
    the exhaustive-ef mode (see :func:`operators.ann.ann_hnsw_search`)
    — the oracle is the exact per-query cosine top-k, which the graph
    candidates provably contain."""
    return ann_hnsw_search(_emb_long(spark, sf_dir),
                           list(ANN_QUERY_IDS), ANN_K)


# --------------------------------------------------------------------------
# Semantic search (BOE over deterministic synthetic word vectors, E1+E6)
# --------------------------------------------------------------------------

BOE_DIM = 16
BOE_SEED = 0
BOE_QUERY = "spark join data"
BOE_K = 10


def _boe_inputs(spark: SparkSession, sf_dir: str
                ) -> tuple[DataFrame, DataFrame]:
    """documents → whitespace-token counts (doc_id, term, tf) and the
    deterministic word vectors over their vocabulary: what every
    BOE-family row embeds (the oracle's ``_BOE_WV_CTE``)."""
    d = load_testdata(spark, sf_dir, "documents")
    tok = (d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
           .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return tf, _SEM.synthetic_word_vectors(tf.select("term"), dim=BOE_DIM,
                                           seed=BOE_SEED)


def _cosine_rows(dv: DataFrame, qv_rows: list[tuple[int, float]]
                 ) -> DataFrame:
    """Cosine top-``BOE_K`` of one query vector as parity rows
    (doc_id, cos_e6, rnk)."""
    hits = _SEM.cosine_topk(dv, {0: qv_rows}, k=BOE_K, tiebreak_round=6)
    return hits.select("doc_id", e6(F.col("score")).alias("cos_e6"),
                       F.col("rank").cast("long").alias("rnk"))


def _boe_query_values() -> str:
    counts: dict[str, int] = {}
    for t in BOE_QUERY.split():
        counts[t] = counts.get(t, 0) + 1
    return ", ".join(f"('{t}', {c})" for t, c in sorted(counts.items()))


@q("semantic_boe_topk", f"""
WITH tok AS (
  SELECT d.doc_id, t.term FROM documents d,
  unnest(string_split(d.text, ' ')) AS t(term) WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
vocab AS (SELECT DISTINCT term FROM tf),
dims AS (SELECT unnest(range(1, {BOE_DIM + 1})) AS i),
wvh AS (
  SELECT term, i,
         md5(cast({BOE_SEED} AS VARCHAR) || ':' || term || ':' ||
             cast(i AS VARCHAR)) AS h
  FROM vocab CROSS JOIN dims
),
wv AS (SELECT term, i, ({_SEM.component_sql()}) / 8388608.0 - 1.0 AS v
       FROM wvh),
dv AS (SELECT doc_id, i, sum(tf * v) AS dv
       FROM tf JOIN wv USING (term) GROUP BY 1, 2),
dn AS (SELECT doc_id, sqrt(sum(dv * dv)) AS nd FROM dv GROUP BY 1),
qt(term, qtf) AS (VALUES {_boe_query_values()}),
qv AS (SELECT i, sum(qtf * v) AS qv FROM qt JOIN wv USING (term) GROUP BY 1),
qn AS (SELECT sqrt(sum(qv * qv)) AS nq FROM qv),
dots AS (SELECT dv.doc_id, sum(dv.dv * qv.qv) AS dot
         FROM dv JOIN qv USING (i) GROUP BY 1),
cosd AS (SELECT d.doc_id, d.dot / (n.nd * (SELECT nq FROM qn)) AS c
         FROM dots d JOIN dn n USING (doc_id))
SELECT doc_id, cast(round(c * 1e6) AS BIGINT) AS cos_e6,
       cast(row_number() OVER (ORDER BY round(c, 6) DESC, doc_id ASC)
            AS BIGINT) AS rnk
FROM cosd QUALIFY rnk <= {BOE_K}
""")
def semantic_boe_topk(spark, sf_dir):
    """BOE semantic search (E1+E6): deterministic synthetic word
    vectors → tf-weighted token-vector sum per doc → cosine top-k
    (reference boe.jl:1-27 + wordvectors.jl:101-187; synthetic vectors
    stand in for the pretrained files absent from the sandbox — see
    operators/semantic.py)."""
    tf, wv = _boe_inputs(spark, sf_dir)
    hits = _SEM.boe_topk(spark, tf, wv, BOE_QUERY, k=BOE_K, tiebreak_round=6)
    return hits.select("doc_id", e6(F.col("score")).alias("cos_e6"),
                       F.col("rank").cast("long").alias("rnk"))


BOE_EUCLID_ALPHA = 0.4


@q("semantic_boe_euclid_topk", f"""
WITH tok AS (
  SELECT d.doc_id, t.term FROM documents d,
  unnest(string_split(d.text, ' ')) AS t(term) WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
vocab AS (SELECT DISTINCT term FROM tf),
dims AS (SELECT unnest(range(1, {BOE_DIM + 1})) AS i),
wvh AS (
  SELECT term, i,
         md5(cast({BOE_SEED} AS VARCHAR) || ':' || term || ':' ||
             cast(i AS VARCHAR)) AS h
  FROM vocab CROSS JOIN dims
),
wv AS (SELECT term, i, ({_SEM.component_sql()}) / 8388608.0 - 1.0 AS v
       FROM wvh),
dv AS (SELECT doc_id, i, sum(tf * v) AS dv
       FROM tf JOIN wv USING (term) GROUP BY 1, 2),
dn AS (SELECT doc_id, sqrt(sum(dv * dv)) AS nd FROM dv GROUP BY 1),
qt(term, qtf) AS (VALUES {_boe_query_values()}),
qv AS (SELECT i, sum(qtf * v) AS qv FROM qt JOIN wv USING (term) GROUP BY 1),
qn AS (SELECT sqrt(sum(qv * qv)) AS nq FROM qv),
dots AS (SELECT dv.doc_id, sum(dv.dv * qv.qv) AS dot
         FROM dv JOIN qv USING (i) GROUP BY 1),
dist AS (
  SELECT n.doc_id, sqrt(greatest(
      0.0, n.nd * n.nd + (SELECT nq * nq FROM qn)
      - 2.0 * coalesce(d.dot, 0.0))) AS dist
  FROM dn n LEFT JOIN dots d USING (doc_id)
),
sc AS (SELECT doc_id,
              2.0 / (exp(2.0 * {BOE_EUCLID_ALPHA} * dist) + 1.0) AS s
       FROM dist)
SELECT doc_id, cast(round(s * 1e6) AS BIGINT) AS score_e6,
       cast(row_number() OVER (ORDER BY round(s, 6) DESC, doc_id ASC)
            AS BIGINT) AS rnk
FROM sc QUALIFY rnk <= {BOE_K}
""")
def semantic_boe_euclid_topk(spark, sf_dir):
    """The BruteTree/KDTree metric family (brutetree.jl:20-28,
    kdtree.jl:13-27 — "Uses Euclidean distance by default") through
    the production searcher path: the BOE searcher with
    ``with_metric('euclidean')`` scores EVERY embedded doc by
    score = 1 − tanh(α·‖q − d‖₂), top-k on (round(score,6) desc,
    doc_id asc).  The oracle writes 1 − tanh(y) as 2/(e^{2y}+1)
    (DuckDB 1.0 has no tanh)."""
    tf, wv = _boe_inputs(spark, sf_dir)
    s = (_SEM.BOESearcher.from_tokens(tf, wv, score_alpha=BOE_EUCLID_ALPHA)
         .with_metric("euclidean"))
    hits = s.sparse_hits(spark, BOE_QUERY)
    w = Window.orderBy(F.round(F.col("score"), 6).desc(),
                       F.col("doc_id").asc())
    return (hits.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= BOE_K)
            .select("doc_id", e6(F.col("score")).alias("score_e6"), "rnk"))


# shared CTE chain: documents → tf → deterministic word vectors
_BOE_WV_CTE = f"""
tok AS (
  SELECT d.doc_id, t.term FROM documents d,
  unnest(string_split(d.text, ' ')) AS t(term) WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
vocab AS (SELECT DISTINCT term FROM tf),
dims AS (SELECT unnest(range(1, {BOE_DIM + 1})) AS i),
wvh AS (
  SELECT term, i,
         md5(cast({BOE_SEED} AS VARCHAR) || ':' || term || ':' ||
             cast(i AS VARCHAR)) AS h
  FROM vocab CROSS JOIN dims
),
wv AS (SELECT term, i, ({_SEM.component_sql()}) / 8388608.0 - 1.0 AS v
       FROM wvh)
"""

_CPM_BLOCKS = """
pd AS (SELECT t.doc_id, w.i, min(w.v) AS p_min, max(w.v) AS p_max,
              sum(w.v * t.tf) AS sum_v,
              sum(CASE WHEN w.v < 0 THEN t.tf ELSE 0 END) AS negs,
              sum(t.tf * ln(abs(w.v) + 1e-300)) AS loga
       FROM {tf} t JOIN wv w USING (term) GROUP BY 1, 2),
nn AS (SELECT doc_id, sum(tf) AS n FROM {tf} GROUP BY 1),
blk AS (
  SELECT doc_id, i, p_min AS dv, 0 AS b FROM pd
  UNION ALL
  SELECT pd.doc_id, i + {dim},
         (CASE WHEN negs % 2 = 1 THEN -1.0 ELSE 1.0 END)
         * exp(loga / nn.n), 1 FROM pd JOIN nn USING (doc_id)
  UNION ALL
  SELECT pd.doc_id, i + 2 * {dim}, sum_v / nn.n, 2
  FROM pd JOIN nn USING (doc_id)
  UNION ALL
  SELECT doc_id, i + 3 * {dim}, p_max, 3 FROM pd
),
z AS (SELECT doc_id, b, avg(dv) AS mu, stddev_samp(dv) AS sd
      FROM blk GROUP BY 1, 2),
{out} AS (SELECT blk.doc_id, blk.i, (dv - mu) / (sd + 1e-16) AS dv
          FROM blk JOIN z USING (doc_id, b))
"""


# Query-side CPMean CTE chain — ONE definition shared by the
# semantic_cpmean_topk and lifecycle_grouped_dense_cpmean oracles
# (a fix applied to one copy silently broke the other).  qnn counts
# IN-VOCAB query tokens only, the embedded-multiset convention of
# cpmean_doc_embeddings (cpmean.jl:55).
_CPM_QUERY_CTES = f"""qt(qdoc, term, tf) AS (VALUES {", ".join(f"(0, '{t}', {c})" for t, c in
    sorted(__import__('collections').Counter(BOE_QUERY.split()).items()))}),
qpd AS (SELECT q.qdoc AS doc_id, w.i, min(w.v) AS p_min, max(w.v) AS p_max,
               sum(w.v * q.tf) AS sum_v,
               sum(CASE WHEN w.v < 0 THEN q.tf ELSE 0 END) AS negs,
               sum(q.tf * ln(abs(w.v) + 1e-300)) AS loga
        FROM qt q JOIN wv w USING (term) GROUP BY 1, 2),
qnn AS (SELECT qdoc AS doc_id, sum(tf) AS n FROM qt
        WHERE term IN (SELECT DISTINCT term FROM wv) GROUP BY 1),
qblk AS (
  SELECT doc_id, i, p_min AS dv, 0 AS b FROM qpd
  UNION ALL
  SELECT qpd.doc_id, i + {BOE_DIM},
         (CASE WHEN negs % 2 = 1 THEN -1.0 ELSE 1.0 END)
         * exp(loga / qnn.n), 1 FROM qpd JOIN qnn USING (doc_id)
  UNION ALL
  SELECT qpd.doc_id, i + 2 * {BOE_DIM}, sum_v / qnn.n, 2
  FROM qpd JOIN qnn USING (doc_id)
  UNION ALL
  SELECT doc_id, i + 3 * {BOE_DIM}, p_max, 3 FROM qpd
),
qz AS (SELECT doc_id, b, avg(dv) AS mu, stddev_samp(dv) AS sd
       FROM qblk GROUP BY 1, 2),
qv AS (SELECT qblk.i, (dv - mu) / (sd + 1e-16) AS qv
       FROM qblk JOIN qz USING (doc_id, b)),
qn AS (SELECT sqrt(sum(qv * qv)) AS nq FROM qv),
dn AS (SELECT doc_id, sqrt(sum(dv * dv)) AS nd FROM dv GROUP BY 1),
dots AS (SELECT dv.doc_id, sum(dv.dv * qv.qv) AS dot
         FROM dv JOIN qv USING (i) GROUP BY 1),
cosd AS (SELECT d.doc_id, d.dot / (n.nd * (SELECT nq FROM qn)) AS c
         FROM dots d JOIN dn n USING (doc_id))"""


@q("semantic_cpmean_topk", f"""
WITH {_BOE_WV_CTE},
{_CPM_BLOCKS.format(tf="tf", dim=BOE_DIM, out="dv")
 },
{_CPM_QUERY_CTES}
SELECT doc_id, cast(round(c * 1e6) AS BIGINT) AS cos_e6,
       cast(row_number() OVER (ORDER BY round(c, 6) DESC, doc_id ASC)
            AS BIGINT) AS rnk
FROM cosd QUALIFY rnk <= {BOE_K}
""")
def semantic_cpmean_topk(spark, sf_dir):
    """E4 CPMean cosine top-k (cpmean.jl:49-89) — concatenated
    min/geomean/mean/max power means, z-normalized per block, query
    embedded the same way."""
    from garamond_jl_spark.operators.semantic import (cpmean_doc_embeddings,
                                                      word_vector_component)
    tf, wv = _boe_inputs(spark, sf_dir)
    dv = cpmean_doc_embeddings(tf, wv, dim=BOE_DIM, znorm=True)
    # query vector via the identical NumPy-side power means over only
    # the query's own (in-corpus-vocab) terms
    import numpy as np
    from collections import Counter
    vocab = _vocab_hits(wv, BOE_QUERY.split())
    qc = {t: c for t, c in Counter(BOE_QUERY.split()).items() if t in vocab}
    if not qc:
        return local_frame(spark, [], "doc_id LONG, cos_e6 LONG, rnk LONG")
    cols = []
    for t, c in qc.items():
        v = np.array([word_vector_component(t, i, BOE_SEED)
                      for i in range(1, BOE_DIM + 1)])
        cols.extend([v] * c)
    A = np.stack(cols, axis=1)
    n = A.shape[1]
    blocks = [A.min(axis=1),
              np.sign(np.prod(A, axis=1)) *
              np.exp(np.sum(np.log(np.abs(A) + 1e-300), axis=1) / n),
              A.mean(axis=1), A.max(axis=1)]
    qv_rows = []
    for bi, b in enumerate(blocks):
        zb = (b - b.mean()) / (b.std(ddof=1) + 1e-16)
        qv_rows.extend([(bi * BOE_DIM + i + 1, float(zb[i]))
                        for i in range(BOE_DIM)])
    return _cosine_rows(dv, qv_rows)



@q("lifecycle_grouped_dense_cpmean", f"""
WITH {_BOE_WV_CTE},
{_CPM_BLOCKS.format(tf="tf", dim=BOE_DIM, out="dv")},
{_CPM_QUERY_CTES},
merged AS (
  SELECT d.doc_id,
         0.8 * (2 / (exp(2 * 0.4 * (1 - coalesce(c.c, 0))) + 1)) AS score
  FROM documents d LEFT JOIN cosd c USING (doc_id))
SELECT doc_id, cast(round(score * 1e6) AS BIGINT) AS score_e6,
       cast(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id ASC)
            AS BIGINT) AS rnk
FROM merged QUALIFY rnk <= {BOE_K}
""")
def lifecycle_grouped_dense_cpmean(spark, sf_dir):
    """Per-id_aggregation result groups through the driver gate
    (results.jl:48-96 aggregate!-by-id): a classic BM25 searcher
    (id_aggregation="classic") and a CPMean dense searcher
    (id_aggregation="dense", weight 0.8) do NOT merge —
    lifecycle.search_grouped returns one result per group, and this row
    checks the "dense" group: 0.8 x (1 - tanh(0.4 x (1 - cpmean cos)))
    over every document (docs outside the searcher's hit set take the
    cos=0 fill), top-10.  Exercises the round-4 doc2vec_method=cpmean
    env searcher + the grouped-search path end-to-end against SQL."""
    from garamond_jl_spark.plans.lifecycle import InternalRequest
    from garamond_jl_spark.plans.lifecycle import SearchEnv as LSE
    from garamond_jl_spark.plans.lifecycle import search_grouped
    from garamond_jl_spark.plans.testdata_queries import _ft_index
    idx = _ft_index(spark, sf_dir)
    tf, wv = _boe_inputs(spark, sf_dir)
    cpm = _SEM.CPMeanSearcher.from_tokens(tf, wv, dim=BOE_DIM, score_alpha=0.4)
    env = LSE(spark=spark, index=idx, score_weight=1.0,
              searchers=[(cpm, 0.8)], aggregation="mean",
              agg_ids=["classic", "dense"])
    req = InternalRequest(query=BOE_QUERY, max_matches=BOE_K,
                          tiebreak_round=6)
    hits = search_grouped(env, req)["dense"]
    return hits.select("doc_id", e6(F.col("score")).alias("score_e6"),
                       F.col("rank").cast("long").alias("rnk"))


BOREP_OUT = 32
_BOREP_INV = 0.25  # 1/sqrt(BOE_DIM=16), exactly representable


@q("semantic_borep_topk", f"""
WITH {_BOE_WV_CTE},
boe AS (SELECT t.doc_id, w.i, sum(t.tf * w.v) AS dv
        FROM tf t JOIN wv w USING (term) GROUP BY 1, 2),
rmat AS (
  SELECT o.o, i.i,
         CASE WHEN substring(md5('{BOE_SEED}:R:' || cast(o.o AS VARCHAR)
                   || ':' || cast(i.i AS VARCHAR)), 1, 1)
              IN ('8','9','a','b','c','d','e','f')
              THEN {_BOREP_INV} ELSE -{_BOREP_INV} END AS r
  FROM (SELECT unnest(range(1, {BOREP_OUT + 1})) AS o) o
  CROSS JOIN (SELECT unnest(range(1, {BOE_DIM + 1})) AS i) i
),
proj AS (SELECT b.doc_id, r.o AS i, sum(r.r * b.dv) AS dv
         FROM boe b JOIN rmat r USING (i) GROUP BY 1, 2),
qt(term, qtf) AS (VALUES {_boe_query_values()}),
qboe AS (SELECT w.i, sum(q.qtf * w.v) AS dv
         FROM qt q JOIN wv w USING (term) GROUP BY 1),
qproj AS (SELECT r.o AS i, sum(r.r * b.dv) AS qv
          FROM qboe b JOIN rmat r USING (i) GROUP BY 1),
qn AS (SELECT sqrt(sum(qv * qv)) AS nq FROM qproj),
dn AS (SELECT doc_id, sqrt(sum(dv * dv)) AS nd FROM proj GROUP BY 1),
dots AS (SELECT p.doc_id, sum(p.dv * q.qv) AS dot
         FROM proj p JOIN qproj q USING (i) GROUP BY 1),
cosd AS (SELECT d.doc_id, d.dot / (n.nd * (SELECT nq FROM qn)) AS c
         FROM dots d JOIN dn n USING (doc_id))
SELECT doc_id, cast(round(c * 1e6) AS BIGINT) AS cos_e6,
       cast(row_number() OVER (ORDER BY round(c, 6) DESC, doc_id ASC)
            AS BIGINT) AS rnk
FROM cosd QUALIFY rnk <= {BOE_K}
""")
def semantic_borep_topk(spark, sf_dir):
    """E3 BOREP cosine top-k (borep.jl:25-60): deterministic ±1/√d
    random projection of BOE sums (sum pooling commutes with R)."""
    from garamond_jl_spark.operators.semantic import (borep_doc_embeddings,
                                                      borep_projection,
                                                      word_vector_component)
    from collections import Counter
    import numpy as np
    tf, wv = _boe_inputs(spark, sf_dir)
    dv = borep_doc_embeddings(tf, wv, dim_in=BOE_DIM, dim_out=BOREP_OUT,
                              pooling="sum", seed=BOE_SEED)
    vocab = _vocab_hits(wv, BOE_QUERY.split())
    qc = {t: c for t, c in Counter(BOE_QUERY.split()).items() if t in vocab}
    if not qc:
        return local_frame(spark, [], "doc_id LONG, cos_e6 LONG, rnk LONG")
    qboe = np.zeros(BOE_DIM)
    for t, c in qc.items():
        qboe += c * np.array([word_vector_component(t, i, BOE_SEED)
                              for i in range(1, BOE_DIM + 1)])
    R = np.zeros((BOREP_OUT, BOE_DIM))
    for o, i, r in borep_projection(BOE_DIM, BOREP_OUT, seed=BOE_SEED):
        R[o - 1, i - 1] = r
    qp = R @ qboe
    qv_rows = [(o + 1, float(qp[o])) for o in range(BOREP_OUT)]
    return _cosine_rows(dv, qv_rows)


@q("semantic_sif_topk")  # PC removal is an eigen-decomposition —
# rows-only driver check; NumPy value identity in test_semantic_embedders
def semantic_sif_topk(spark, sf_dir):
    """E2 SIF cosine top-k (sif.jl:53-81): frequency-weighted BOE with
    corpus-level principal-component removal; query embedded without PC
    removal (its single vector would vanish under its own projector)."""
    from garamond_jl_spark.operators.semantic import (sif_doc_embeddings,
                                                      word_vector_component)
    from collections import Counter
    import numpy as np
    tf, wv = _boe_inputs(spark, sf_dir)
    lex = tf.groupBy("term").agg(F.sum("tf").alias("count"))
    dv = sif_doc_embeddings(tf, wv, lex)
    # query embedding needs counts for the QUERY's ~4 terms plus the
    # corpus-total scalar — never the full lexicon on the driver (at a
    # code-corpus vocabulary that collect is a driver OOM; same
    # discipline as operators/query.embed_queries and semantic.py's
    # env SIF path)
    q_terms = sorted(set(BOE_QUERY.split()))
    stats = {r["term"]: r["count"] for r in
             lex.where(F.col("term").isin(q_terms)).collect()}
    total = lex.agg(F.sum("count")).first()[0]
    qc = {t: c for t, c in Counter(BOE_QUERY.split()).items() if t in stats}
    if not qc:
        return local_frame(spark, [], "doc_id LONG, cos_e6 LONG, rnk LONG")
    q_arr = np.zeros(BOE_DIM)
    w_total = sum(qc.values())
    from garamond_jl_spark.operators.semantic import SIF_ALPHA
    for t, c in qc.items():
        p = stats[t] / total
        v = np.array([word_vector_component(t, i, BOE_SEED)
                      for i in range(1, BOE_DIM + 1)])
        q_arr += c * SIF_ALPHA / (SIF_ALPHA + p) * v
    q_arr /= w_total
    qv_rows = [(i + 1, float(q_arr[i])) for i in range(BOE_DIM)]
    return _cosine_rows(dv, qv_rows)


def _disc_query_values() -> str:
    """DisC needs ORDERED query tokens (pairs are positional)."""
    return ", ".join(f"({o + 1}, '{t}')"
                     for o, t in enumerate(BOE_QUERY.split()))


@q("semantic_disc_topk", f"""
WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents),
tok0 AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS ord, toks
         FROM base),
tok AS (SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
               AS pos
        FROM (SELECT doc_id, ord, toks[ord] AS term FROM tok0)
        WHERE term <> ''),
vocab AS (SELECT DISTINCT term FROM tok),
dims AS (SELECT unnest(range(1, {BOE_DIM + 1})) AS i),
wvh AS (SELECT term, i,
               md5(cast({BOE_SEED} AS VARCHAR) || ':' || term || ':' ||
                   cast(i AS VARCHAR)) AS h
        FROM vocab CROSS JOIN dims),
wv AS (SELECT term, i, ({_SEM.component_sql()}) / 8388608.0 - 1.0 AS v
       FROM wvh),
b1 AS (SELECT t.doc_id, w.i, sum(w.v) AS dv
       FROM tok t JOIN wv w USING (term) GROUP BY 1, 2),
pair AS (SELECT a.doc_id, a.term AS t1, b.term AS t2
         FROM tok a JOIN tok b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
b2 AS (SELECT p.doc_id, w1.i, sum(w1.v * w2.v) / 2.0 AS dv
       FROM pair p
       JOIN wv w1 ON w1.term = p.t1
       JOIN wv w2 ON w2.term = p.t2 AND w2.i = w1.i
       GROUP BY 1, 2),
dv AS (SELECT doc_id, i, dv FROM b1
       UNION ALL SELECT doc_id, i + {BOE_DIM} AS i, dv FROM b2),
dn AS (SELECT doc_id, sqrt(sum(dv * dv)) AS nd FROM dv GROUP BY 1),
qtok0(ord, term) AS (VALUES {{DISC_QVALUES}}),
qtok AS (SELECT row_number() OVER (ORDER BY ord) - 1 AS pos, term
         FROM qtok0 WHERE term IN (SELECT term FROM vocab)),
q1 AS (SELECT w.i, sum(w.v) AS qv
       FROM qtok JOIN wv w USING (term) GROUP BY 1),
qpair AS (SELECT a.term AS t1, b.term AS t2
          FROM qtok a JOIN qtok b ON b.pos = a.pos + 1),
q2 AS (SELECT w1.i, sum(w1.v * w2.v) / 2.0 AS qv
       FROM qpair p
       JOIN wv w1 ON w1.term = p.t1
       JOIN wv w2 ON w2.term = p.t2 AND w2.i = w1.i
       GROUP BY 1),
qv AS (SELECT i, qv FROM q1
       UNION ALL SELECT i + {BOE_DIM} AS i, qv FROM q2),
qn AS (SELECT sqrt(sum(qv * qv)) AS nq FROM qv),
dots AS (SELECT dv.doc_id, sum(dv.dv * qv.qv) AS dot
         FROM dv JOIN qv USING (i) GROUP BY 1),
cosd AS (SELECT d.doc_id, d.dot / (n.nd * (SELECT nq FROM qn)) AS c
         FROM dots d JOIN dn n USING (doc_id))
SELECT doc_id, cast(round(c * 1e6) AS BIGINT) AS cos_e6,
       cast(row_number() OVER (ORDER BY round(c, 6) DESC, doc_id ASC)
            AS BIGINT) AS rnk
FROM cosd QUALIFY rnk <= {BOE_K}
""".replace("{DISC_QVALUES}", _disc_query_values()))
def semantic_disc_topk(spark, sf_dir):
    """E5 DisC cosine top-k (disc.jl:49-90): concatenated k-gram
    product-sum blocks (k=1,2) over ordered tokens."""
    from garamond_jl_spark.operators.semantic import (disc_doc_embeddings,
                                                      synthetic_word_vectors,
                                                      word_vector_component)
    import numpy as np
    d = load_testdata(spark, sf_dir, "documents")
    tokp = (d.select("doc_id", F.posexplode(F.split("text", " "))
                     .alias("pos", "term"))
            .where(F.col("term") != ""))
    wv = synthetic_word_vectors(tokp.select("term"), dim=BOE_DIM,
                                seed=BOE_SEED)
    dv = disc_doc_embeddings(tokp, wv, dim=BOE_DIM, n=2)
    vocab = _vocab_hits(wv, BOE_QUERY.split())
    seq = [t for t in BOE_QUERY.split() if t in vocab]
    if not seq:
        return local_frame(spark, [], "doc_id LONG, cos_e6 LONG, rnk LONG")
    vecs = [np.array([word_vector_component(t, i, BOE_SEED)
                      for i in range(1, BOE_DIM + 1)]) for t in seq]
    q1 = np.sum(vecs, axis=0)
    qv_rows = [(i + 1, float(q1[i])) for i in range(BOE_DIM)]
    if len(vecs) >= 2:
        q2 = np.sum([vecs[j] * vecs[j + 1]
                     for j in range(len(vecs) - 1)], axis=0) / 2.0
        qv_rows += [(BOE_DIM + i + 1, float(q2[i])) for i in range(BOE_DIM)]
    return _cosine_rows(dv, qv_rows)


RP_OUT = 64                       # ±1/√64 = ±0.125, exact in IEEE doubles
_RP_INV = repr(1.0 / RP_OUT ** 0.5)
_RP_CASE = (f"CASE WHEN substring(md5('{{seed}}:RP:' || {{term}} || ':' || "
            f"cast(dims.o AS VARCHAR)), 1, 1) IN "
            f"('8','9','a','b','c','d','e','f') "
            f"THEN {_RP_INV} ELSE -{_RP_INV} END")


def _tfidf_query(spark: SparkSession, sf_dir: str
                 ) -> tuple[InvertedIndex, dict[str, float]]:
    """The whitespace-token tfidf index over documents, and BOE_QUERY's
    dtv pseudo-document weights {term: qw} over its in-vocab terms
    (in-vocab qlen, the pinned convention; empty when none is)."""
    import math
    from collections import Counter

    docs = load_testdata(spark, sf_dir, "documents")
    idx = build_index(spark, docs, EngineConfig(weighting="tfidf"),
                      id_col="doc_id", text_col="text",
                      tokenizer=lambda s: [t for t in (s or "").split(" ")
                                           if t])
    qc = Counter(BOE_QUERY.split())
    dfs = {r["term"]: r["df"] for r in
           idx.terms.where(F.col("term").isin(*qc)).select("term", "df")
           .collect()}
    n_docs = float(idx.meta["n_docs"])
    ql = float(sum(c for t, c in qc.items() if t in dfs))
    return idx, {t: math.sqrt(qc[t] / ql)
                 * (math.log(n_docs / (dfs[t] + 1.0)) + 1.0) for t in dfs}


@q("semantic_rp_topk", f"""
WITH tok AS (
  SELECT d.doc_id, t.term FROM documents d,
  unnest(string_split(d.text, ' ')) AS t(term) WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS cnt FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(cnt) AS doclen FROM tf GROUP BY 1),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
w AS (SELECT f.doc_id, f.term,
             sqrt(f.cnt / greatest(l.doclen, 1.0))
             * (ln((SELECT count(*) FROM documents)::DOUBLE / (d.df + 1)) + 1)
             AS w
      FROM tf f JOIN dl l USING (doc_id) JOIN dfreq d USING (term)),
dims AS (SELECT unnest(range(1, {RP_OUT + 1})) AS o),
dv AS (SELECT w.doc_id, dims.o,
              sum(w.w * ({_RP_CASE.format(seed=BOE_SEED, term="w.term")}))
              AS dv
       FROM w CROSS JOIN dims GROUP BY 1, 2),
qt(term, qtf) AS (VALUES {_boe_query_values()}),
qiv AS (SELECT q.term, q.qtf::DOUBLE AS qtf, d.df
        FROM qt q JOIN dfreq d USING (term)),
qw AS (SELECT term,
              sqrt(qtf / (SELECT sum(qtf) FROM qiv))
              * (ln((SELECT count(*) FROM documents)::DOUBLE / (df + 1)) + 1)
              AS w
       FROM qiv),
qv AS (SELECT dims.o,
              sum(qw.w * ({_RP_CASE.format(seed=BOE_SEED, term="qw.term")}))
              AS qv
       FROM qw CROSS JOIN dims GROUP BY 1),
qn AS (SELECT sqrt(sum(qv * qv)) AS nq FROM qv),
dn AS (SELECT doc_id, sqrt(sum(dv * dv)) AS nd FROM dv GROUP BY 1),
dots AS (SELECT dv.doc_id, sum(dv.dv * qv.qv) AS dot
         FROM dv JOIN qv USING (o) GROUP BY 1),
cosd AS (SELECT d.doc_id, d.dot / (n.nd * (SELECT nq FROM qn)) AS c
         FROM dots d JOIN dn n USING (doc_id))
SELECT doc_id, cast(round(c * 1e6) AS BIGINT) AS cos_e6,
       cast(row_number() OVER (ORDER BY round(c, 6) DESC, doc_id ASC)
            AS BIGINT) AS rnk
FROM cosd QUALIFY rnk <= {BOE_K}
""")
def semantic_rp_topk(spark, sf_dir):
    """E7 RP transform of tfidf DTVs → cosine top-k
    (embedder/interface.jl:84-87 ``:rp``; projection derandomized via
    md5, see operators/semantic.rp_doc_embeddings).  The query embeds
    through the same dtv pseudo-document path (in-vocab qlen, pinned
    convention) and projects through the same R — computed driver-side
    (|q|·m scalars)."""
    from garamond_jl_spark.operators.semantic import (rp_doc_embeddings,
                                                      rp_sign)
    idx, qw = _tfidf_query(spark, sf_dir)
    if not qw:
        return local_frame(spark, [], "doc_id LONG, cos_e6 LONG, rnk LONG")
    dv = rp_doc_embeddings(idx.postings, dim_out=RP_OUT, seed=BOE_SEED)
    inv = 1.0 / RP_OUT ** 0.5
    qv_rows = [(o, sum(qw[t] * (rp_sign(t, o, BOE_SEED) * inv) for t in
                       sorted(qw)))
               for o in range(1, RP_OUT + 1)]
    return _cosine_rows(dv, qv_rows)


@q("semantic_lsa_topk")  # truncated SVD — rows-only driver check;
# latent-space rank identity vs NumPy in test_semantic_embedders
def semantic_lsa_topk(spark, sf_dir):
    """E7 ``:lsa`` — truncated SVD of the tfidf DTM (mllib distributed
    ARPACK), docs and query folded in through Vᵀ, cosine top-k
    (embedder/interface.jl:86; latent cosines are sign-flip invariant,
    see operators/semantic.lsa_projection)."""
    from garamond_jl_spark.operators.semantic import (LSA_DIM_OUT,
                                                      lsa_projection,
                                                      project_dtv)
    idx, qw = _tfidf_query(spark, sf_dir)
    if not qw:
        return local_frame(spark, [], "doc_id LONG, cos_e6 LONG, rnk LONG")
    v_table, _ = lsa_projection(idx.postings, dim_out=LSA_DIM_OUT)
    dv = project_dtv(idx.postings, v_table)
    vq = (v_table.where(F.col("term").isin(*qw))
          .select("term", "i", "v").collect())
    acc: dict[int, float] = {}
    for r in vq:
        acc[r["i"]] = acc.get(r["i"], 0.0) + qw[r["term"]] * r["v"]
    return _cosine_rows(dv, sorted(acc.items()))


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (dedup family, 5th method)
# --------------------------------------------------------------------------

DEDUP_COS_T = 0.30  # corpus-calibrated: the parity embeddings are
# uniform-random (cosines concentrate near 0); production near-dup at
# τ≈0.9+ uses the same plan with more planes / banded bucket tables


@q("dedup_embedding_cosine", f"""
WITH {EMB_NORM_CTE},
{LSH_BUCKET_CTE},
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bkt a
  CROSS JOIN (SELECT unnest([{", ".join(str(m) for m in probe_masks(N_PLANES, 1))}]) AS m) mm
  JOIN bkt b ON xor(a.bucket, mm.m) = b.bucket AND a.vec_id < b.vec_id
),
dots AS (
  SELECT c.vec_a, c.vec_b, sum(x.v * y.v) AS dot
  FROM cand c JOIN u x ON x.vec_id = c.vec_a
  JOIN u y ON y.vec_id = c.vec_b AND y.i = x.i
  GROUP BY 1, 2
),
cosd AS (
  SELECT d.vec_a, d.vec_b, d.dot / (na.nv * nb.nv) AS c
  FROM dots d JOIN nrm na ON na.vec_id = d.vec_a
  JOIN nrm nb ON nb.vec_id = d.vec_b
)
SELECT vec_a, vec_b, cast(round(c * 1e6) AS BIGINT) AS cos_e6
FROM cosd WHERE c >= {DEDUP_COS_T}
""")
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup (dedup method #5 per the build brief):
    hyperplane-LSH bucket → Hamming≤1 multiprobe candidate pairs →
    exact cosine verify ≥ τ.  Same sublinear shape as dedup_minhash_lsh:
    candidate generation is a bucket equi-join over the probe-mask
    fan-out (never all-pairs), the exact dot product runs on candidates
    only.  The oracle SQL enumerates the identical XOR masks."""
    return embedding_cosine_pairs(_emb_long(spark, sf_dir))


def embedding_cosine_pairs(u: DataFrame, threshold: float = DEDUP_COS_T,
                           n_planes: int = N_PLANES,
                           probe_radius: int = 1) -> DataFrame:
    """(vec_id, i, v) long-form embeddings → near-dup pairs
    (vec_a, vec_b, cos_e6) with cosine ≥ ``threshold``.

    Candidate generation is MULTIPROBE (same trick as ann_lsh_search's
    Hamming-ball probing, reused for the symmetric pair case): side A
    fans out over the XOR masks of every bucket within Hamming
    ``probe_radius`` and equi-joins side B's bucket — a true near-dup
    pair split by up to ``probe_radius`` hyperplanes (each a
    low-probability event at near-identical cosine, but n_planes
    independent chances) still collides.  ``probe_radius=0`` recovers
    the plain same-bucket join; the fan-out costs |docs|·|masks| rows
    (radius 1 ⇒ n_planes+1 masks), still an equi-join — never
    all-pairs.  Injected-near-dup recall at τ=0.95 is asserted ≥0.99 in
    test_pipeline_ops."""
    # both sides of the bucket equi-join read the lsh_buckets
    # aggregation's exchange, evaluated once per action and reused
    bkt = lsh_buckets(u.toDF("doc_id", "i", "dv"), n_planes, seed=None) \
        .toDF("vec_id", "bucket")
    masks = F.explode(F.array(*[
        F.lit(m) for m in probe_masks(n_planes, probe_radius)])).alias("m")
    a = (bkt.select(F.col("vec_id").alias("vec_a"), "bucket", masks)
         .select("vec_a",
                 F.col("bucket").bitwiseXOR(F.col("m")).alias("bucket")))
    b = bkt.select(F.col("vec_id").alias("vec_b"), "bucket")
    cand = (a.join(b, "bucket")
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b").distinct())
    x = u.select(F.col("vec_id").alias("vec_a"), "i", F.col("v").alias("va"))
    y = u.select(F.col("vec_id").alias("vec_b"), "i", F.col("v").alias("vb"))
    dots = (cand.join(x, "vec_a").join(y, ["vec_b", "i"])
            .groupBy("vec_a", "vec_b")
            .agg(F.sum(F.col("va") * F.col("vb")).alias("dot")))
    nrm = _SEM.doc_norms(u.toDF("doc_id", "i", "dv"))
    na = nrm.select(F.col("doc_id").alias("vec_a"), F.col("nd").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("vec_b"), F.col("nd").alias("nb"))
    return (dots.join(na, "vec_a").join(nb, "vec_b")
            .select("vec_a", "vec_b",
                    (F.col("dot") / (F.col("na") * F.col("nb"))).alias("c"))
            .where(F.col("c") >= F.lit(threshold))
            .select("vec_a", "vec_b", e6(F.col("c")).alias("cos_e6")))


# --------------------------------------------------------------------------
# Multimodal plumbing (opaque binary columns; codec stubbed, shapes real)
# --------------------------------------------------------------------------

FRAME_CHUNK = 1024


def _docs_as_media(spark, sf_dir):
    d = load_testdata(spark, sf_dir, "documents")
    return d.select(F.col("doc_id").alias("media_id"),
                    F.lit("video").alias("modality"),
                    F.lit("application/octet-stream").alias("mime"),
                    F.lit(None).cast("int").alias("width"),
                    F.lit(None).cast("int").alias("height"),
                    F.lit(1000).alias("duration_ms"),
                    F.col("text").cast("binary").alias("payload"))


@q("multimodal_frames", f"""
WITH m AS (SELECT doc_id AS media_id, strlen(text) AS n
           FROM documents),
fr AS (SELECT media_id, unnest(range(cast(ceil(n / {FRAME_CHUNK}.0) AS BIGINT)))
              AS frame_idx, n
       FROM m WHERE n > 0)
SELECT media_id, cast(frame_idx AS BIGINT) AS frame_idx,
       cast(least({FRAME_CHUNK}, n - frame_idx * {FRAME_CHUNK}) AS BIGINT)
       AS frame_len
FROM fr
""")
def multimodal_frames(spark, sf_dir):
    """Frame-sampling fan-out through the real mapInPandas plumbing
    (operators/multimodal.sample_frames) with the deterministic
    byte-chunk stand-in splitter — one row per 1024-byte 'frame'.
    The oracle checks the fan-out arithmetic exactly (chunk count and
    per-frame byte length per media row); the codec itself stays a
    documented stub (ffmpeg in production)."""
    from garamond_jl_spark.operators.multimodal import (chunk_split_fn,
                                                        sample_frames)
    media = _docs_as_media(spark, sf_dir)
    frames = sample_frames(media, every_ms=1000,
                           split_fn=chunk_split_fn(FRAME_CHUNK))
    return frames.select("media_id",
                         F.col("frame_idx").cast("long").alias("frame_idx"),
                         F.length("frame").cast("long").alias("frame_len"))


@q("multimodal_features")  # sha256-byte float derivation — rows-only;
# exact values covered by tests/test_aggregate_suggest_multimodal.py
def multimodal_features(spark, sf_dir):
    """Feature extraction through the Arrow batch boundary
    (operators/multimodal.extract_features) with the deterministic fake
    decoder: payload → sha256-derived unit-norm float vector.  A real
    deployment swaps ONLY decode_fn (PIL/torchaudio embedding)."""
    from garamond_jl_spark.operators.multimodal import (
        deterministic_fake_decoder, extract_features)
    media = _docs_as_media(spark, sf_dir)
    feats = extract_features(media, deterministic_fake_decoder(dim=16))
    return feats.select("media_id", "modality",
                        F.size("feature").alias("dim"),
                        e6(F.element_at("feature", 1).cast("double"))
                        .alias("f0_e6"))


# The stdlib-codec rows verify a REAL encode→decode round-trip: the
# Spark side synthesizes genuine WAV / PGM byte payloads from a
# closed-form sample formula, decodes them with the stdlib parsers
# (operators/multimodal.wav_decode_features / pnm_decode_features)
# through the same mapInPandas plumbing, and the DuckDB oracle
# re-derives the identical features directly from the formula — a hash
# mismatch means the codec mis-parsed bytes.  Sample formulas:
#   WAV   n = least(n_chars, 256) int16 samples,
#         s_i = ((media_id·31 + i·17) mod 4096) − 2048, mono @ 8 kHz
#   PGM   8 × (1 + n_chars mod 13) grayscale pixels,
#         p_j = (media_id·7 + j·13) mod 256; binary P5 for even ids,
#         ASCII P2 for odd (both header grammars exercised)

@q("multimodal_wav_decode", """
WITH m AS (SELECT doc_id AS media_id, least(n_chars, 256) AS n
           FROM documents WHERE n_chars > 0),
s AS (SELECT media_id, ((media_id*31 + i*17) % 4096) - 2048 AS v
      FROM (SELECT media_id, unnest(range(n)) AS i FROM m))
SELECT media_id,
       cast(count(*) AS BIGINT) AS n_samples,
       cast(sum(v) AS BIGINT) AS s_sum,
       cast(sum(abs(v)) AS BIGINT) AS abs_sum,
       cast(min(v) AS BIGINT) AS s_min,
       cast(max(v) AS BIGINT) AS s_max
FROM s GROUP BY media_id
""")
def multimodal_wav_decode(spark, sf_dir):
    """Audio decode through the REAL stdlib WAV codec (no fake): build
    PCM payloads with `wave`, decode them back via extract_features'
    Arrow batches, emit integer-exact sample statistics."""
    import numpy as np
    import pandas as pd
    from garamond_jl_spark.operators.multimodal import (extract_features,
                                                        stdlib_decoder,
                                                        wav_encode)
    d = (load_testdata(spark, sf_dir, "documents")
         .where(F.col("n_chars") > 0)
         .select("doc_id", F.least("n_chars", F.lit(256)).alias("n")))

    def synth(batches):
        for b in batches:
            payloads = []
            for mid, n in zip(b["doc_id"], b["n"]):
                i = np.arange(int(n), dtype=np.int64)
                s = ((int(mid) * 31 + i * 17) % 4096) - 2048
                payloads.append(wav_encode(s.astype("<i2")))
            yield pd.DataFrame({"media_id": b["doc_id"],
                                "modality": "audio",
                                "payload": payloads})

    media = d.mapInPandas(
        synth, "media_id LONG, modality STRING, payload BINARY")
    feats = extract_features(media, stdlib_decoder())
    el = lambda i: F.element_at("feature", i).cast("long")  # noqa: E731
    return feats.select("media_id",
                        el(3).alias("n_samples"), el(4).alias("s_sum"),
                        el(5).alias("abs_sum"), el(6).alias("s_min"),
                        el(7).alias("s_max"))


@q("multimodal_pgm_decode", """
WITH m AS (SELECT doc_id AS media_id, 8 AS w, 1 + (n_chars % 13) AS h
           FROM documents),
px AS (SELECT media_id, w, h, (media_id*7 + j*13) % 256 AS v
       FROM (SELECT media_id, w, h, unnest(range(w*h)) AS j FROM m))
SELECT media_id,
       cast(max(w) AS BIGINT) AS width, cast(max(h) AS BIGINT) AS height,
       cast(sum(v) AS BIGINT) AS p_sum,
       cast(min(v) AS BIGINT) AS p_min, cast(max(v) AS BIGINT) AS p_max
FROM px GROUP BY media_id
""")
def multimodal_pgm_decode(spark, sf_dir):
    """Image decode through the REAL netpbm parser: synthesize P5
    (binary, even ids) and P2 (ASCII, odd ids) grayscale payloads,
    decode via the hand parser, emit integer-exact pixel statistics."""
    import numpy as np
    import pandas as pd
    from garamond_jl_spark.operators.multimodal import (extract_features,
                                                        pnm_encode,
                                                        stdlib_decoder)
    d = (load_testdata(spark, sf_dir, "documents")
         .select("doc_id",
                 F.lit(8).alias("w"),
                 (F.lit(1) + F.col("n_chars") % 13).alias("h")))

    def synth(batches):
        for b in batches:
            payloads = []
            for mid, w, h in zip(b["doc_id"], b["w"], b["h"]):
                j = np.arange(int(w) * int(h), dtype=np.int64)
                px = (int(mid) * 7 + j * 13) % 256
                payloads.append(pnm_encode(px, int(w), int(h),
                                           binary=(int(mid) % 2 == 0)))
            yield pd.DataFrame({"media_id": b["doc_id"],
                                "modality": "image",
                                "payload": payloads})

    media = d.mapInPandas(
        synth, "media_id LONG, modality STRING, payload BINARY")
    feats = extract_features(media, stdlib_decoder())
    el = lambda i: F.element_at("feature", i).cast("long")  # noqa: E731
    return feats.select("media_id",
                        el(1).alias("width"), el(2).alias("height"),
                        el(4).alias("p_sum"), el(5).alias("p_min"),
                        el(6).alias("p_max"))


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

# char-trigram language profiles built from each language's most
# frequent function words (public linguistic knowledge — the standard
# Cavnar–Trenkle-style n-gram profile technique, compacted): each word
# padded with spaces contributes its trigrams, so word boundaries
# (" th", "he ", " de", "er ") dominate the signal.
_LANG_WORDS = {
    "en": "the and of to in is you that it he was for on are as with "
          "his they at be this have from one had by not but what all",
    "de": "der die und das ist ich nicht mit ein sie auf für den von "
          "werden wir haben einem nach auch es im dem sich des als war",
    "fr": "le la les des une est pas vous pour dans qui sur avec sont "
          "être fait plus mais nous comme elle tout deux cette très",
    "es": "el los las una está que por para con del este como más pero "
          "sus son tiene entre cuando hasta desde también muy años sin",
}
LANG_CONF_FLOOR = 0.12  # reference confidence floor analog (text.jl:40)
CJK_FRAC_NUM, CJK_FRAC_DEN = 1, 5  # ≥20% CJK chars ⇒ zh (script detect)


def _lang_trigram_profile() -> list[tuple[str, str]]:
    out = set()
    for lang, words in _LANG_WORDS.items():
        for wd in words.split():
            p = f" {wd} "
            for i in range(len(p) - 2):
                out.add((p[i:i + 3], lang))
    return sorted(out)


_PROFILE_VALUES = ", ".join(
    "('" + g.replace("'", "''") + f"', '{lang}')"
    for g, lang in _lang_trigram_profile())


@q("text_lang_id", f"""
WITH pt AS (SELECT doc_id, ' ' || text || ' ' AS p, text FROM documents),
dt AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(p) - 1),
                               i -> substring(p, i, 3))) AS g
  FROM pt
),
ntri AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY 1),
prof(g, lang) AS (VALUES {_PROFILE_VALUES}),
hits AS (SELECT dt.doc_id, p.lang, count(*) AS c
         FROM dt JOIN prof p USING (g) GROUP BY 1, 2),
sc AS (SELECT h.doc_id, h.lang, h.c * 1.0 / n.n AS score
       FROM hits h JOIN ntri n USING (doc_id)),
best AS (SELECT doc_id, lang, score,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, lang ASC) AS rn
         FROM sc),
cjk AS (SELECT doc_id,
               len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) AS nc,
               len(text) AS lt
        FROM documents)
SELECT d.doc_id,
       CASE WHEN c.nc * {CJK_FRAC_DEN} >= c.lt * {CJK_FRAC_NUM}
                 AND c.nc > 0 THEN 'zh'
            WHEN b.score >= {LANG_CONF_FLOOR} THEN b.lang
            ELSE 'und' END AS pred_lang
FROM documents d JOIN cjk c USING (doc_id)
LEFT JOIN (SELECT doc_id, lang, score FROM best WHERE rn = 1) b
USING (doc_id)
""")
def text_lang_id(spark, sf_dir):
    """Char-trigram language ID (upgrading the round-1 marker-word
    vote): padded-word trigram profiles per language, coverage score =
    matched trigram occurrences / total trigrams, deterministic argmax
    (score desc, lang asc) with a confidence floor → 'und' (reference
    trained-detector + 0.15 floor analog, src/data/text.jl:32-41), and
    CJK script detection (≥20% han chars ⇒ zh) where trigram profiles
    of space-delimited words cannot apply."""
    return _lang_id_df(load_testdata(spark, sf_dir, "documents"))


def _lang_id_df(d: DataFrame) -> DataFrame:
    spark = d.sparkSession
    prof = F.broadcast(local_frame(spark,
        _lang_trigram_profile(), "g STRING, lang STRING"))
    pt = d.select("doc_id", F.concat(F.lit(" "), F.col("text"), F.lit(" "))
                  .alias("p"), "text")
    # char trigrams via posexplode + windowed leads: the transform()
    # lambda alternative runs interpreted (no codegen) AND re-scans the
    # string per substring call — same fix as shingles_from
    cw = Window.partitionBy("doc_id").orderBy("cp")
    dt = (pt.select("doc_id", F.posexplode(F.split("p", "")).alias("cp", "c0"))
          .select("doc_id", "c0",
                  F.lead("c0", 1).over(cw).alias("c1"),
                  F.lead("c0", 2).over(cw).alias("c2"))
          .where(F.col("c2").isNotNull())
          .select("doc_id", F.concat("c0", "c1", "c2").alias("g")))
    ntri = dt.groupBy("doc_id").agg(F.count("*").alias("n"))
    hits = dt.join(prof, "g").groupBy("doc_id", "lang") \
             .agg(F.count("*").alias("c"))
    sc = (hits.join(ntri, "doc_id")
          .select("doc_id", "lang", (F.col("c") / F.col("n")).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                             F.col("lang").asc())
    best = (sc.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).select("doc_id", "lang", "score"))
    cjk = d.select("doc_id",
                   F.regexp_count("text", F.lit("[\\u4e00-\\u9fff]"))
                   .alias("nc"),
                   F.length("text").alias("lt"))
    return (d.select("doc_id").join(cjk, "doc_id")
            .join(best, "doc_id", "left")
            .select("doc_id", F.when(
                (F.col("nc") * CJK_FRAC_DEN >= F.col("lt") * CJK_FRAC_NUM)
                & (F.col("nc") > 0), F.lit("zh"))
                .when(F.col("score") >= LANG_CONF_FLOOR, F.col("lang"))
                .otherwise(F.lit("und")).alias("pred_lang")))


PIPE_QUALITY_E6 = 300000          # keep quality ≥ 0.3 (integer compare on
# the already-e6-rounded score — engine-exact, no float boundary)
PIPE_LANGS = ("en", "es", "und")


@q("pipeline_clean_corpus", f"""
WITH surv AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
tok AS (
  SELECT d.doc_id, t.term FROM documents d,
  unnest(string_split(d.text, ' ')) AS t(term) WHERE t.term <> ''
),
st AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT term) AS n_uniq
       FROM tok GROUP BY 1),
qual AS (
  SELECT d.doc_id, coalesce(st.n_tok, 0) AS n_tok,
         cast(round(coalesce(st.n_uniq * 1.0 / st.n_tok, 0)
                    * least(1.0, coalesce(st.n_tok, 0) / 50.0) * 1e6)
              AS BIGINT) AS quality_e6
  FROM documents d LEFT JOIN st USING (doc_id)
),
pt AS (SELECT doc_id, ' ' || text || ' ' AS p, text FROM documents),
dt AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(p) - 1),
                               i -> substring(p, i, 3))) AS g
  FROM pt
),
ntri AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY 1),
prof(g, lang) AS (VALUES {_PROFILE_VALUES}),
hits AS (SELECT dt.doc_id, p.lang, count(*) AS c
         FROM dt JOIN prof p USING (g) GROUP BY 1, 2),
sc AS (SELECT h.doc_id, h.lang, h.c * 1.0 / n.n AS score
       FROM hits h JOIN ntri n USING (doc_id)),
best AS (SELECT doc_id, lang, score,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, lang ASC) AS rn
         FROM sc),
cjk AS (SELECT doc_id,
               len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]'))
               AS nc, len(text) AS lt
        FROM documents),
langp AS (
  SELECT d.doc_id,
         CASE WHEN c.nc * {CJK_FRAC_DEN} >= c.lt * {CJK_FRAC_NUM}
                   AND c.nc > 0 THEN 'zh'
              WHEN b.score >= {LANG_CONF_FLOOR} THEN b.lang
              ELSE 'und' END AS pred_lang
  FROM documents d JOIN cjk c USING (doc_id)
  LEFT JOIN (SELECT doc_id, lang, score FROM best WHERE rn = 1) b
  USING (doc_id)
)
SELECT s.doc_id, q.n_tok, q.quality_e6, l.pred_lang
FROM surv s JOIN qual q USING (doc_id) JOIN langp l USING (doc_id)
WHERE q.quality_e6 >= {PIPE_QUALITY_E6}
  AND l.pred_lang IN {PIPE_LANGS!r}
""")
def pipeline_clean_corpus(spark, sf_dir):
    """END-TO-END training-data cleaning pipeline — the composition the
    engine exists for at 100 TB: exact-dedup survivors ∩ quality floor
    ∩ language filter, emitted as a cleaned-corpus manifest
    (doc_id, n_tok, quality_e6, pred_lang).  One declarative plan: the
    three per-doc metric subplans share the documents scan, the filters
    are Catalyst predicates, and every stage is the already-verified
    parity operator (dedup_exact / text_quality_score / text_lang_id)."""
    d = load_testdata(spark, sf_dir, "documents")
    surv = (d.groupBy(F.md5("text").alias("_h"))
            .agg(F.min("doc_id").alias("doc_id")).select("doc_id"))
    tok = (d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
           .where(F.col("term") != ""))
    st = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"),
                                   F.countDistinct("term").alias("n_uniq"))
    qv = ((F.col("n_uniq") / F.col("n_tok"))
          * F.least(F.lit(1.0), F.col("n_tok") / F.lit(50.0)))
    qual = (d.select("doc_id").join(st, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tok", F.lit(0)).cast("long").alias("n_tok"),
                    F.coalesce(e6(qv), F.lit(0)).alias("quality_e6")))
    langp = _lang_id_df(d).select("doc_id", "pred_lang")
    return (surv.join(qual, "doc_id").join(langp, "doc_id")
            .where((F.col("quality_e6") >= PIPE_QUALITY_E6)
                   & F.col("pred_lang").isin(*PIPE_LANGS))
            .select("doc_id", "n_tok", "quality_e6", "pred_lang"))


@q("text_quality_score", """
WITH tok AS (
  SELECT d.doc_id, t.term FROM documents d,
  unnest(string_split(d.text, ' ')) AS t(term) WHERE t.term <> ''
),
st AS (
  SELECT doc_id, count(*) AS n_tok, count(DISTINCT term) AS n_uniq
  FROM tok GROUP BY 1
)
SELECT d.doc_id,
       coalesce(st.n_tok, 0) AS n_tok,
       cast(round(coalesce(st.n_uniq * 1.0 / st.n_tok, 0)
                  * least(1.0, coalesce(st.n_tok, 0) / 50.0) * 1e6) AS BIGINT)
       AS quality_e6
FROM documents d LEFT JOIN st USING (doc_id)
""")
def text_quality_score(spark, sf_dir):
    """Quality score: lexical diversity × length saturation — the
    length/ratio family of heuristics, engine-exact arithmetic."""
    d = load_testdata(spark, sf_dir, "documents")
    tok = (d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
           .where(F.col("term") != ""))
    st = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"),
                                   F.countDistinct("term").alias("n_uniq"))
    qual = ((F.col("n_uniq") / F.col("n_tok"))
            * F.least(F.lit(1.0), F.col("n_tok") / F.lit(50.0)))
    return (d.select("doc_id").join(st, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tok", F.lit(0)).cast("long").alias("n_tok"),
                    F.coalesce(e6(qual), F.lit(0)).alias("quality_e6")))


@q("text_token_count_regex",
   "SELECT doc_id, cast(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) "
   "AS BIGINT) AS n_tok FROM documents")
def text_token_count_regex(spark, sf_dir):
    """BPE-ish regex token counting (alpha runs + digit runs)."""
    d = load_testdata(spark, sf_dir, "documents")
    return d.select("doc_id", F.regexp_count("text", F.lit("[a-z]+|[0-9]+"))
                    .cast("long").alias("n_tok"))


@q("text_summarize")  # iterative PageRank — not SQL-expressible; the
# driver records the weaker rows-only check for this entry
def text_summarize(spark, sf_dir):
    """F5 TextRank extractive summarization (text.jl:51-74) — per-doc
    tf-idf sentence graph + PageRank in one Arrow pass.  Testdata text
    is an unpunctuated token stream, so sentence boundaries are
    synthesized every 12 tokens before summarizing."""
    from garamond_jl_spark.functions.summarize import summarize_docs
    d = load_testdata(spark, sf_dir, "documents")
    sent = F.expr(
        "array_join(transform(sequence(0, cast((size(t) - 1) / 12 AS int)),"
        " i -> concat_ws(' ', slice(t, i * 12 + 1, 12))), '. ')")
    dd = (d.withColumn("t", F.split("text", " "))
          .select("doc_id", sent.alias("text")))
    out = summarize_docs(dd, ns=2)
    return out.select("doc_id",
                      F.array_join("summary", " | ").alias("summary"))


@q("text_fingerprint", f"""
WITH {SHINGLES_CTE}
SELECT doc_id, min(md5(s)) AS fp FROM shd GROUP BY 1
""")
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: winnowing-style min-hash over shingles
    (single global window — the rolling-hash family representative)."""
    shd = _shingles(spark, sf_dir)
    return shd.groupBy("doc_id").agg(F.min(F.md5("s")).alias("fp"))
