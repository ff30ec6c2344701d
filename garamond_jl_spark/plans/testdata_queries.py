"""Driver-contract parity queries (relational + full-text core).

Each entry pairs a Spark DataFrame program with an ANSI-SQL oracle that
DuckDB runs on the same parquet tables (driver contract in
``__spark_entry__.py``).  Operator coverage follows SURVEY.md §2; each
function cites the reference operator it implements.

Cross-engine determinism rules used throughout:

* float outputs leave the query as ``*_e6`` / ``*_c`` BIGINT columns
  (``round(x·10^6)``) — integer value-hashes are immune to float
  formatting differences;
* every ranked output ranks on the ROUNDED score with an id tiebreak, so
  last-ulp float noise between engines cannot flip near-ties;
* row_number outputs are cast to BIGINT on the Spark side (Spark emits
  int, DuckDB bigint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from garamond_jl_spark.config import EngineConfig
from garamond_jl_spark.functions.scoring import e6
from garamond_jl_spark.operators.build import build_index
from garamond_jl_spark.operators.query import search
from garamond_jl_spark.session import local_frame
from garamond_jl_spark.sources.tables import load_testdata

# documents-table full-text config: whitespace tokens (text is already
# clean, and the DuckDB oracle splits with string_split(text, ' ')),
# reference test alpha 0.4 (test/configs/configgenerator.jl:46).
FT_CFG = EngineConfig(score_alpha=0.4)
FT_QUERY = "spark join data"
FT_QUERY2 = "window batch merge"
FT_K = 10

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return reg


def cents(col: Column) -> Column:
    return F.round(col * F.lit(100), 0).cast("long")


def _ft_index(spark: SparkSession, sf_dir: str):
    docs = load_testdata(spark, sf_dir, "documents")
    return build_index(spark, docs, FT_CFG, id_col="doc_id", text_col="text",
                       tokenizer=lambda s: [t for t in (s or "").split(" ") if t])


# SQL fragments shared by the full-text oracles: the same inverted-index
# statistics pipeline expressed relationally (what the engine computes
# distributed, DuckDB computes here single-node).
# Query-side BM25 pseudo-document weights (qtf -> normalized wq) —
# ONE definition consumed by the four fulltext/lifecycle oracles
# (the kappa/beta/idf constants here are the [SA-public] pinned
# semantics; a change must land in every row at once).
QW_CTES = """qst AS (SELECT coalesce(sum(cnt), 0) AS qlen FROM qtf),
qw AS (
  SELECT t.term,
         (ln(s.n / (d.df + 1)) + 1)
         * ((2.0 + 1) * sqrt(t.cnt / greatest(q.qlen, 1.0)))
         / (2.0 * (1 - 0.75 + 0.75 * q.qlen / s.avgdl)
            + sqrt(t.cnt / greatest(q.qlen, 1.0))) AS wq
  FROM qtf t JOIN dfreq d USING (term) CROSS JOIN stat s CROSS JOIN qst q
),
qn AS (SELECT sqrt(sum(wq * wq)) AS qn FROM qw)"""


FT_STATS_CTE = """
tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS cnt FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(cnt) AS doclen FROM tf GROUP BY 1),
stat AS (
  SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
         (SELECT sum(doclen) FROM dl) / (SELECT count(*) FROM documents) AS avgdl
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
w AS (
  SELECT f.doc_id, f.term, f.cnt, l.doclen,
         (ln(s.n / (d.df + 1)) + 1)
         * ((2.0 + 1) * sqrt(f.cnt / greatest(l.doclen, 1.0)))
         / (2.0 * (1 - 0.75 + 0.75 * l.doclen / s.avgdl)
            + sqrt(f.cnt / greatest(l.doclen, 1.0))) AS w
  FROM tf f JOIN dl l USING (doc_id) JOIN dfreq d USING (term) CROSS JOIN stat s
),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1)
"""


def _ft_oracle_sql(query_terms: list[str], k: int) -> str:
    vals = ", ".join(f"('{t}')" for t in query_terms)
    return f"""
WITH {FT_STATS_CTE},
qraw AS (SELECT term FROM (VALUES {vals}) AS q(term)),
qtf AS (
  SELECT q.term, count(*)::DOUBLE AS cnt FROM qraw q
  JOIN dfreq USING (term) GROUP BY 1
),
{QW_CTES},
sc AS (
  SELECT w.doc_id, sum((w.w / n.nrm) * (qw.wq / (SELECT qn FROM qn))) AS cosv
  FROM w JOIN nrm n USING (doc_id) JOIN qw USING (term) GROUP BY 1
)
SELECT doc_id,
       cast(round((2 / (exp(2 * 0.4 * (1 - cosv)) + 1)) * 1e6) AS BIGINT) AS score_e6,
       row_number() OVER (ORDER BY round(2 / (exp(2 * 0.4 * (1 - cosv)) + 1), 6) DESC,
                          doc_id ASC) AS rnk
FROM sc
QUALIFY rnk <= {k}
"""


# --------------------------------------------------------------------------
# Full-text core (flagship + statistics operators)
# --------------------------------------------------------------------------

@q("fulltext_bm25_topk", _ft_oracle_sql(FT_QUERY.split(), FT_K))
def fulltext_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE flagship: J4 score join + A5 BM25 + F11 transform + T1 top-k."""
    idx = _ft_index(spark, sf_dir)
    hits = search(spark, idx, [FT_QUERY], k=FT_K, hydrate=False,
                  tiebreak_round=6, pad_to_k=False)
    return hits.select("doc_id", e6(F.col("score")).alias("score_e6"),
                       F.col("rank").cast("long").alias("rnk"))


@q("fulltext_bm25_topk_impact", _ft_oracle_sql(FT_QUERY.split(), FT_K))
def fulltext_bm25_topk_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship query answered by the champion-list impact-ordered
    plan (operators/impact.py) against the SAME DuckDB oracle: the
    exactness certificate (or exact fallback) guarantees rank identity,
    and the driver gate checks it independently of pytest."""
    from garamond_jl_spark.operators.impact import impact_topk
    idx = _ft_index(spark, sf_dir)
    hits = impact_topk(spark, idx, [FT_QUERY], k=FT_K, p=64,
                       tiebreak_round=6)
    return hits.select("doc_id", e6(F.col("score")).alias("score_e6"),
                       F.col("rank").cast("long").alias("rnk"))


@q("fulltext_regex_topk", f"""
WITH {FT_STATS_CTE},
qpat(pat, c) AS (VALUES ('^s', 1), ('jo.n', 1), ('or', 1)),
qtf AS (
  SELECT d.term, sum(q.c)::DOUBLE AS cnt
  FROM dfreq d JOIN qpat q ON regexp_matches(d.term, q.pat)
  GROUP BY 1
),
{QW_CTES},
sc AS (
  SELECT w.doc_id, sum((w.w / n.nrm) * (qw.wq / (SELECT qn FROM qn))) AS cosv
  FROM w JOIN nrm n USING (doc_id) JOIN qw USING (term) GROUP BY 1
)
SELECT doc_id,
       cast(round((2 / (exp(2 * 0.4 * (1 - cosv)) + 1)) * 1e6) AS BIGINT) AS score_e6,
       row_number() OVER (ORDER BY round(2 / (exp(2 * 0.4 * (1 - cosv)) + 1), 6) DESC,
                          doc_id ASC) AS rnk
FROM sc
QUALIFY rnk <= {FT_K}
""")
def fulltext_regex_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 ``search_method=regex`` (dtv.jl:27 dtv_regex): each query
    token is an UNANCHORED regex expanded against the vocabulary (one
    rlike join of the terms table vs the broadcast pattern list), the
    expanded counts feed the standard BM25 pseudo-document — '^s' fans
    to six terms, 'or' to three, and 'sort' matches BOTH (count 2),
    exercising the per-term count summation.  Oracle mirrors with
    DuckDB regexp_matches (both engines' regexes are find-unanchored)."""
    from garamond_jl_spark.operators.query import embed_queries, topk_plan
    idx = _ft_index(spark, sf_dir)
    qt = embed_queries(spark, idx, ["^s jo.n or"], isregex=True)
    hits = topk_plan(idx, qt, FT_K, tiebreak_round=6, pad_to_k=False)
    return hits.select("doc_id", e6(F.col("score")).alias("score_e6"),
                       F.col("rank").cast("long").alias("rnk"))


@q("lifecycle_combined_search_filter", f"""
WITH {FT_STATS_CTE},
qraw AS (SELECT term FROM (VALUES ('spark'), ('join'), ('data')) AS q(term)),
qtf AS (
  SELECT q.term, count(*)::DOUBLE AS cnt FROM qraw q
  JOIN dfreq USING (term) GROUP BY 1
),
{QW_CTES},
sc AS (
  SELECT w.doc_id, sum((w.w / n.nrm) * (qw.wq / (SELECT qn FROM qn))) AS cosv
  FROM w JOIN nrm n USING (doc_id) JOIN qw USING (term) GROUP BY 1
),
filtered AS (
  SELECT sc.doc_id, 2 / (exp(2 * 0.4 * (1 - sc.cosv)) + 1) AS score
  FROM sc JOIN documents d USING (doc_id) WHERE d.lang = 'en'
)
SELECT doc_id, cast(round(score * 1e6) AS BIGINT) AS score_e6,
       row_number() OVER (ORDER BY round(score, 6) DESC, doc_id ASC) AS rnk
FROM filtered QUALIFY rnk <= 10
""")
def lifecycle_combined_search_filter(spark, sf_dir):
    """The full request lifecycle through the driver gate: structured
    query DSL (F8) parses 'spark join data lang:"en"' into free text +
    typed filter, the combined plan executes search + post-filter
    semi-join (P10, main.jl:50-52).  The oracle scores matched docs and
    filters lang='en' — valid because ≥k matched docs survive, so the
    dense-knn padding never reaches the top-k."""
    from garamond_jl_spark.plans.lifecycle import (InternalRequest,
                                                   SearchEnv as LSE)
    from garamond_jl_spark.plans.lifecycle import search as lsearch
    idx = _ft_index(spark, sf_dir)
    env = LSE(spark=spark, index=idx)
    req = InternalRequest(query='spark join data lang:"en"', max_matches=10,
                          tiebreak_round=6)
    hits = lsearch(env, req)
    return hits.select("doc_id", e6(F.col("score")).alias("score_e6"),
                       F.col("rank").cast("long").alias("rnk"))


def _mixed_env_oracle_sql(terms: tuple[str, ...] = ("spark", "join", "data"),
                          k: int = 10,
                          dense_metric: str = "cosine") -> str:
    """Oracle for the heterogeneous two-searcher env: BM25 score and BOE
    score per doc (each through the same 1−tanh(α·dist) transform),
    weighted 0.8 each, merged :mean.  Docs outside a searcher's sparse
    hit set take that searcher's fill via coalesce — exactly the
    engine's densify-over-candidates + pad semantics.  Parameterized on
    the query terms + k so the batched ``search_many`` row can union one
    body per request, and on ``dense_metric``: cosine (NaiveIndex,
    dist = 1 − cos, fill cos = 0) or euclidean (BruteTree/KDTree/HNSW,
    dist = ‖q − d‖₂ over every embedded doc, fill dist = 1)."""
    from collections import Counter

    from garamond_jl_spark.operators.semantic import component_sql
    tr = "2 / (exp(2 * 0.4 * (1 - {c})) + 1)"
    qvals = ", ".join(f"('{t}')" for t in terms)
    bvals = ", ".join(f"('{t}', {c})" for t, c in sorted(Counter(terms).items()))
    if dense_metric == "euclidean":
        # every embedded doc has a distance (LEFT JOIN from the norms);
        # a doc with no dense embedding at all falls to fill dist = 1
        dense_cte = """bdist AS (
  SELECT n.doc_id, sqrt(greatest(0.0,
      n.nd * n.nd + (SELECT nq * nq FROM bqn)
      - 2.0 * coalesce(t.dot, 0.0))) AS dist
  FROM bdn n LEFT JOIN bdots t USING (doc_id)
)"""
        dense_term = ("coalesce(2 / (exp(2 * 0.4 * bd.dist) + 1), "
                      "2 / (exp(2 * 0.4) + 1))")
        dense_join = "LEFT JOIN bdist bd ON bd.doc_id = d.doc_id"
    else:
        dense_cte = (
            "bcos AS (SELECT t.doc_id, "
            "t.dot / (n.nd * (SELECT nq FROM bqn)) AS c\n"
            "         FROM bdots t JOIN bdn n USING (doc_id))")
        dense_term = tr.format(c='coalesce(bc.c, 0)')
        dense_join = "LEFT JOIN bcos bc ON bc.doc_id = d.doc_id"
    return f"""
WITH {FT_STATS_CTE},
qraw AS (SELECT term FROM (VALUES {qvals}) AS q(term)),
qtf AS (
  SELECT q.term, count(*)::DOUBLE AS cnt FROM qraw q
  JOIN dfreq USING (term) GROUP BY 1
),
{QW_CTES},
sc AS (
  SELECT w.doc_id, sum((w.w / n.nrm) * (qw.wq / (SELECT qn FROM qn))) AS cosv
  FROM w JOIN nrm n USING (doc_id) JOIN qw USING (term) GROUP BY 1
),
dims AS (SELECT unnest(range(1, 17)) AS i),
wvh AS (
  SELECT term, i,
         md5(cast(0 AS VARCHAR) || ':' || term || ':' ||
             cast(i AS VARCHAR)) AS h
  FROM dfreq CROSS JOIN dims
),
wv2 AS (SELECT term, i, ({component_sql()}) / 8388608.0 - 1.0 AS v
        FROM wvh),
bdv AS (SELECT doc_id, i, sum(cnt * v) AS dv
        FROM tf JOIN wv2 USING (term) GROUP BY 1, 2),
bdn AS (SELECT doc_id, sqrt(sum(dv * dv)) AS nd FROM bdv GROUP BY 1),
bqt(term, qc) AS (VALUES {bvals}),
bqv AS (SELECT i, sum(qc * v) AS qv FROM bqt JOIN wv2 USING (term)
        GROUP BY 1),
bqn AS (SELECT sqrt(sum(qv * qv)) AS nq FROM bqv),
bdots AS (SELECT v.doc_id, sum(v.dv * q.qv) AS dot
          FROM bdv v JOIN bqv q USING (i) GROUP BY 1),
{dense_cte},
merged AS (
  SELECT d.doc_id,
         (0.8 * ({tr.format(c='coalesce(sc.cosv, 0)')})
          + 0.8 * ({dense_term})) / 2 AS score
  FROM documents d
  LEFT JOIN sc ON sc.doc_id = d.doc_id
  {dense_join}
)
SELECT doc_id, cast(round(score * 1e6) AS BIGINT) AS score_e6,
       cast(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id ASC)
            AS BIGINT) AS rnk
FROM merged QUALIFY rnk <= {k}
"""


@q("lifecycle_multi_searcher_mixed", _mixed_env_oracle_sql())
def lifecycle_multi_searcher_mixed(spark, sf_dir):
    """HETEROGENEOUS multi-searcher environment (the reference's test
    config 2: a classic BM25 searcher and a Word2Vec/BOE searcher under
    one id_aggregation, test/configs/configgenerator.jl:54-116, merged
    by src/search/results.jl:54-145 with the default :mean strategy).
    Both searchers weight 0.8 (config-2 score_weight) and share
    score_alpha 0.4; the BOE side uses the deterministic synthetic word
    vectors (operators/semantic.py).

    Round 4: the BOE searcher runs ANN-BACKED — an LSH candidate index
    (operators/ann.LSHCandidateIndex, the searcher-owns-an-index design
    of reference src/searchable/searcher.jl:120-125) narrows the dense
    side to the probed buckets with exact rerank, and the top-k is
    STILL hash-identical to the full-scan DuckDB oracle: at these probe
    settings the candidate set covers every doc whose dense score can
    reach the merged top-10 (verified against the exact engine in
    tests/test_ann.py; the full-scan path remains available by simply
    not attaching an index)."""
    from garamond_jl_spark.plans.lifecycle import InternalRequest
    from garamond_jl_spark.plans.lifecycle import search as lsearch
    env = _mixed_boe_env(spark, sf_dir)
    req = InternalRequest(query=FT_QUERY, max_matches=10, tiebreak_round=6)
    hits = lsearch(env, req)
    return hits.select("doc_id", e6(F.col("score")).alias("score_e6"),
                       F.col("rank").cast("long").alias("rnk"))


def _mixed_boe_env(spark, sf_dir, metric: str = "cosine",
                   index: str = "lsh"):
    """The heterogeneous BM25 + ANN-backed-BOE environment shared by the
    single-request and batched parity rows (reference test config 2).
    ``metric``/``index`` pick the dense searcher's scoring family and
    candidate structure: the default is the NaiveIndex-cosine searcher
    behind a multiprobe LSH index; ``("euclidean", "hnsw")`` is the
    reference's :hnsw config — the Malkov-Yashunin graph in its native
    L2 metric (hnsw.jl:33), run here at exhaustive ef so the gate pins
    the wiring against the full-scan oracle."""
    from garamond_jl_spark.operators.semantic import (BOESearcher,
                                                      synthetic_word_vectors)
    from garamond_jl_spark.plans.lifecycle import SearchEnv as LSE
    idx = _ft_index(spark, sf_dir)
    d = load_testdata(spark, sf_dir, "documents")
    tok = (d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
           .where(F.col("term") != ""))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    wv = synthetic_word_vectors(tf.select("term"), dim=16, seed=0)
    boe = (BOESearcher.from_tokens(tf, wv, score_alpha=0.4)
           .with_metric(metric))
    if index == "hnsw":
        # normalize=False: the graph's beam walks the searcher's own L2
        # metric (normalized vectors would rank the beam by cosine)
        boe = boe.with_candidate_index("hnsw", n_shards=2, M=8,
                                       ef_construction=100, ef=1 << 30,
                                       seed=0,
                                       normalize=(metric == "cosine"))
    else:
        boe = boe.with_candidate_index("lsh", n_planes=6, radius=3, seed=0)
    return LSE(spark=spark, index=idx, score_weight=0.8,
               searchers=[(boe, 0.8)], aggregation="mean")


@q("lifecycle_mixed_euclid_hnsw",
   _mixed_env_oracle_sql(dense_metric="euclidean"))
def lifecycle_mixed_euclid_hnsw(spark, sf_dir):
    """The reference's :hnsw searcher config end-to-end: the mixed env's
    dense side runs ``with_metric('euclidean')`` (the HNSW family's
    native L2, hnsw.jl:33 / brutetree.jl:22) behind a REAL sharded
    Malkov-Yashunin candidate index (operators/hnsw_graph.py) at
    exhaustive ef, so the beam provably covers every embedded doc and
    the merged top-k stays hash-identical to the full-scan DuckDB
    oracle (dist = ‖q−d‖₂ over every embedded doc, fill dist = 1 for
    the rest).  Production-ef recall/latency for the same index is
    bench-measured (BENCH.md r4 HNSW table); this row pins the
    metric + graph + merge wiring."""
    from garamond_jl_spark.plans.lifecycle import InternalRequest
    from garamond_jl_spark.plans.lifecycle import search as lsearch
    env = _mixed_boe_env(spark, sf_dir, metric="euclidean", index="hnsw")
    req = InternalRequest(query=FT_QUERY, max_matches=10, tiebreak_round=6)
    hits = lsearch(env, req)
    return hits.select("doc_id", e6(F.col("score")).alias("score_e6"),
                       F.col("rank").cast("long").alias("rnk"))


_SM_REQS = [(FT_QUERY, 10), ("window batch merge", 7)]


@q("lifecycle_search_many", "SELECT cast(request_id AS BIGINT) AS request_id,"
   " doc_id, score_e6, rnk FROM (\n" + "\nUNION ALL\n".join(
       f"SELECT {rid} AS request_id, * FROM ("
       + _mixed_env_oracle_sql(tuple(qs.split()), k) + ")"
       for rid, (qs, k) in enumerate(_SM_REQS)) + "\n)")
def lifecycle_search_many(spark, sf_dir):
    """BATCHED lifecycle requests (round-4 A6/T1 batch path): N mixed-env
    requests with per-request k run as ONE DataFrame DAG —
    ``lifecycle.search_many`` embeds the whole batch per searcher
    (``sparse_hits_batch``; O(#searchers) jobs, not O(N)) and merges with
    query_id riding every key.  The oracle is one full-scan mixed-env
    body per request (request_id literal + UNION ALL), so the gate checks
    the batched merge/fill/pad algebra is request-wise identical to the
    single path the reference executes per request
    (src/search/results.jl:54-145)."""
    from garamond_jl_spark.plans.lifecycle import (InternalRequest,
                                                   search_many)
    env = _mixed_boe_env(spark, sf_dir)
    reqs = [InternalRequest(query=qs, max_matches=k, tiebreak_round=6)
            for qs, k in _SM_REQS]
    hits = search_many(env, reqs)
    return hits.select(F.col("request_id").cast("long").alias("request_id"),
                       "doc_id", e6(F.col("score")).alias("score_e6"),
                       F.col("rank").cast("long").alias("rnk"))


@q("fulltext_oov_empty", "SELECT CAST(NULL AS BIGINT) AS doc_id, "
                         "CAST(NULL AS BIGINT) AS score_e6 WHERE FALSE")
def fulltext_oov_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV-only query ⇒ zero rows (is_embedded gate, dtv.jl:53-58)."""
    idx = _ft_index(spark, sf_dir)
    hits = search(spark, idx, ["zzzz_not_in_vocab qqqq"], k=5, hydrate=False)
    return hits.select("doc_id", e6(F.col("score")).alias("score_e6"))


@q("fulltext_doclen", """
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
)
SELECT doc_id, count(*) AS doclen FROM tok GROUP BY 1
""")
def fulltext_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 per-doc length from the postings build (doc-local counting)."""
    idx = _ft_index(spark, sf_dir)
    return (idx.postings.groupBy("doc_id")
            .agg(F.first("doclen").cast("long").alias("doclen")))


@q("fulltext_term_df", """
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
)
SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
""")
def fulltext_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A7 dictionary document frequencies (salted two-stage agg)."""
    idx = _ft_index(spark, sf_dir)
    return idx.terms.select("term", F.col("df").cast("long").alias("df"))


@q("fulltext_idf", """
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
SELECT term,
       cast(round((ln((SELECT count(*) FROM documents)::DOUBLE / (df + 1)) + 1) * 1e6)
            AS BIGINT) AS idf_e6
FROM dfreq
""")
def fulltext_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 idf = log(n/(df+1)) + 1 [SA-public]."""
    idx = _ft_index(spark, sf_dir)
    return idx.terms.select("term", e6(F.col("idf")).alias("idf_e6"))


@q("fulltext_bm25_weights", f"""
WITH {FT_STATS_CTE}
SELECT term, doc_id, cast(round(w * 1e6) AS BIGINT) AS w_e6
FROM w WHERE term IN ('spark', 'join', 'data')
""")
def fulltext_bm25_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 per-cell Okapi BM25 weights (κ=2, β=0.75) as JVM expressions."""
    idx = _ft_index(spark, sf_dir)
    return (idx.postings.where(F.col("term").isin("spark", "join", "data"))
            .select("term", "doc_id", e6(F.col("w")).alias("w_e6")))


@q("fulltext_tfidf_weights", """
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS cnt FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(cnt) AS doclen FROM tf GROUP BY 1),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
SELECT f.term, f.doc_id,
       cast(round(sqrt(f.cnt / greatest(l.doclen, 1.0))
                  * (ln((SELECT count(*) FROM documents)::DOUBLE / (d.df + 1)) + 1)
                  * 1e6) AS BIGINT) AS w_e6
FROM tf f JOIN dl l USING (doc_id) JOIN dfreq d USING (term)
WHERE f.term IN ('spark', 'join', 'data')
""")
def fulltext_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 tf-idf weighting scheme (same build, tfidf config)."""
    docs = load_testdata(spark, sf_dir, "documents")
    cfg = EngineConfig(weighting="tfidf")
    idx = build_index(spark, docs, cfg, id_col="doc_id", text_col="text",
                      tokenizer=lambda s: [t for t in (s or "").split(" ") if t])
    return (idx.postings.where(F.col("term").isin("spark", "join", "data"))
            .select("term", "doc_id", e6(F.col("w")).alias("w_e6")))


@q("fulltext_corpus_stats", """
WITH tok AS (
  SELECT d.doc_id, t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, count(*) AS doclen FROM tok GROUP BY 1)
SELECT (SELECT count(*) FROM documents) AS n_docs,
       cast(round((SELECT sum(doclen) FROM tf)
                  / (SELECT count(*) FROM documents)::DOUBLE * 1e6) AS BIGINT)
       AS avgdl_e6
""")
def fulltext_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 scalar corpus statistics (n_docs, avg doclen)."""
    idx = _ft_index(spark, sf_dir)
    # HALF_UP like the oracle's round() and the file's e6() — Python
    # round() is banker's and would differ by 1 on a .5 boundary
    from decimal import ROUND_HALF_UP, Decimal
    avgdl_e6 = int(Decimal(repr(idx.meta["avgdl"] * 1e6))
                   .quantize(Decimal(1), rounding=ROUND_HALF_UP))
    return local_frame(spark,
        [(idx.meta["n_docs"], avgdl_e6)],
        "n_docs BIGINT, avgdl_e6 BIGINT")


@q("fulltext_vocab_intersect", """
WITH vocab AS (
  SELECT DISTINCT t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
)
SELECT q.term, (v.term IS NOT NULL) AS in_vocab
FROM (VALUES ('spark'), ('join'), ('zzzz_nope'), ('window')) AS q(term)
LEFT JOIN vocab v USING (term)
""")
def fulltext_vocab_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/U1 missing_needles: query tokens ∩/∖ vocabulary
    (src/search/index.jl:140-147)."""
    idx = _ft_index(spark, sf_dir)
    probe = local_frame(spark,
        [("spark",), ("join",), ("zzzz_nope",), ("window",)], "term STRING")
    return (probe.join(idx.terms.select("term", F.lit(True).alias("hit")),
                       "term", "left")
            .select("term", F.coalesce("hit", F.lit(False)).alias("in_vocab")))


@q("suggest_levenshtein", """
WITH tok AS (
  SELECT t.term
  FROM documents d, unnest(string_split(d.text, ' ')) AS t(term)
  WHERE t.term <> ''
),
vocab AS (SELECT DISTINCT term FROM tok),
nd(needle) AS (VALUES ('sparkk'), ('joinn'), ('dtaa'), ('windoww')),
cand AS (
  SELECT n.needle, v.term,
         levenshtein(v.term, n.needle)::DOUBLE AS distance
  FROM vocab v JOIN nd n ON abs(length(v.term) - length(n.needle)) <= 2
  WHERE levenshtein(v.term, n.needle) <= 2
)
SELECT needle, term AS suggestion, cast(distance AS BIGINT) AS dist,
       cast(row_number() OVER (PARTITION BY needle
                               ORDER BY distance ASC, term ASC)
            AS BIGINT) AS rnk
FROM cand QUALIFY rnk <= 5
""")
def suggest_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10/A8 spelling suggestions through the driver gate: for each
    misspelled needle, the ≤5 closest vocabulary terms at Levenshtein
    ≤ 2, ties in term order (the BK-tree capability of reference
    src/search/index.jl:157-180 as the banded equi-join of
    functions/suggest.py — the length band |len(t) − len(q)| ≤ d is the
    distributed analog of the tree's triangle-inequality pruning)."""
    from garamond_jl_spark.functions.suggest import suggest_terms
    idx = _ft_index(spark, sf_dir)
    out = suggest_terms(idx.terms, ["sparkk", "joinn", "dtaa", "windoww"],
                        max_distance=2, max_suggestions=5,
                        metric="levenshtein")
    return out.select("needle", "suggestion",
                      F.col("distance").cast("long").alias("dist"),
                      F.col("rank").cast("long").alias("rnk"))


@q("positional_after_pushfirst", """
WITH seq AS (
  SELECT CAST(9001 AS BIGINT) AS doc_id, -2 AS seg
  UNION ALL SELECT CAST(9000 AS BIGINT), -1
  UNION ALL SELECT doc_id, 0 FROM documents
)
SELECT cast(row_number() OVER (ORDER BY seg ASC, doc_id ASC) AS BIGINT)
         AS pos_id, doc_id
FROM seq
""")
def positional_after_pushfirst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 pushfirst! renumbering through the gate — the one
    mutation-path hash row: build a persistent index over the documents
    table, pushfirst! twice, read back the positional view.  Ids are
    recreated 1..N with the NEWEST prepend first
    (db.jl:116-125,147-151).  The view is collected and re-wrapped so
    the scratch index directory can be removed before returning."""
    import shutil
    import tempfile

    from garamond_jl_spark.operators.persist import build_persistent
    from garamond_jl_spark.streaming.incremental import (positional_docs,
                                                         prepend_docs)
    docs = load_testdata(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="gate_pushfirst_")
    tok = lambda s: [t for t in (s or "").split(" ") if t]  # noqa: E731
    try:
        build_persistent(spark, docs, FT_CFG, out, id_col="doc_id",
                         text_col="text", n_buckets=2, tokenizer=tok)
        for new_id, txt in ((9000, "spark join"), (9001, "window merge")):
            batch = local_frame(spark, [(new_id, txt)],
                                "doc_id LONG, text STRING")
            prepend_docs(spark, out, batch, id_col="doc_id",
                         text_col="text", tokenizer=tok)
        rows = [(r["pos_id"], r["doc_id"]) for r in
                positional_docs(spark, out).select("pos_id", "doc_id")
                .collect()]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return local_frame(spark, rows, "pos_id LONG, doc_id LONG")


# --------------------------------------------------------------------------
# Filters (P3-P11) on the TPC-H-ish tables
# --------------------------------------------------------------------------

@q("filter_eq",
   "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'")
def filter_eq(spark, sf_dir):
    """P3 equality filter (filter.jl:15)."""
    c = load_testdata(spark, sf_dir, "customer")
    return c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")


@q("filter_in_set",
   "SELECT o_orderkey FROM orders "
   "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')")
def filter_in_set(spark, sf_dir):
    """P4 set membership (filter.jl:17)."""
    o = load_testdata(spark, sf_dir, "orders")
    return o.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")) \
            .select("o_orderkey")


@q("filter_contains_any",
   "SELECT p_partkey, p_type FROM part "
   "WHERE contains(p_type, 'ECO') OR contains(p_type, 'PRO')")
def filter_contains_any(spark, sf_dir):
    """P5 any-substring over a string tuple (filter.jl:19-20)."""
    p = load_testdata(spark, sf_dir, "part")
    pred = F.col("p_type").contains("ECO") | F.col("p_type").contains("PRO")
    return p.where(pred).select("p_partkey", "p_type")


@q("filter_interval",
   "SELECT l_orderkey, l_linenumber FROM lineitem "
   "WHERE l_quantity BETWEEN 10 AND 20")
def filter_interval(spark, sf_dir):
    """P6 closed interval from a 2-vector (filter.jl:22-31)."""
    li = load_testdata(spark, sf_dir, "lineitem")
    return li.where(F.col("l_quantity").between(10, 20)) \
             .select("l_orderkey", "l_linenumber")


@q("filter_conjunction",
   "SELECT l_orderkey, l_linenumber FROM lineitem "
   "WHERE l_returnflag = 'R' AND l_quantity BETWEEN 5 AND 15 "
   "AND l_discount > 0.05")
def filter_conjunction(spark, sf_dir):
    """P7 conjunction of per-key predicates (filter.jl:53-58)."""
    li = load_testdata(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_returnflag") == "R")
                     & F.col("l_quantity").between(5, 15)
                     & (F.col("l_discount") > 0.05))
            .select("l_orderkey", "l_linenumber"))


@q("filter_exclude_id",
   "SELECT c_custkey FROM customer "
   "WHERE c_mktsegment = 'MACHINERY' AND c_custkey <> 42")
def filter_exclude_id(spark, sf_dir):
    """P9 seed-id exclusion (filter.jl:61, recommenders/search.jl:11)."""
    c = load_testdata(spark, sf_dir, "customer")
    return (c.where((F.col("c_mktsegment") == "MACHINERY")
                    & (F.col("c_custkey") != 42))
            .select("c_custkey"))


@q("entry_lookup",
   "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders "
   "WHERE o_orderkey = 7 LIMIT 1")
def entry_lookup(spark, sf_dir):
    """P11 db_select_entry by id (db.jl:60-71)."""
    o = load_testdata(spark, sf_dir, "orders")
    return (o.where(F.col("o_orderkey") == 7).limit(1)
            .select("o_orderkey", "o_custkey", "o_orderstatus"))


# --------------------------------------------------------------------------
# Joins (J1-J2), set ops (U1, U3)
# --------------------------------------------------------------------------

@q("semi_join_ids",
   "SELECT c_custkey FROM customer WHERE c_custkey IN "
   "(SELECT o_custkey FROM orders WHERE o_totalprice > 300000)")
def semi_join_ids(spark, sf_dir):
    """J1 db_select_idxs_from_values = semi-join + projection (db.jl:75-77)."""
    c = load_testdata(spark, sf_dir, "customer")
    o = load_testdata(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 300000).select("o_custkey")
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi") \
            .select("c_custkey")


@q("hydrate_join", """
WITH top AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders QUALIFY rnk <= 20
)
SELECT t.o_orderkey, c.c_name,
       cast(round(t.o_totalprice * 100) AS BIGINT) AS price_c, t.rnk
FROM top t JOIN customer c ON c.c_custkey = t.o_custkey
""")
def hydrate_join(spark, sf_dir):
    """J2 result hydration: top-k hits ⋈ docs, broadcast the hit side
    (results.jl:219-223)."""
    c = load_testdata(spark, sf_dir, "customer")
    o = load_testdata(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    top = (o.withColumn("rnk", F.row_number().over(w).cast("long"))
           .where(F.col("rnk") <= 20))
    return (c.join(F.broadcast(top), c.c_custkey == top.o_custkey)
            .select("o_orderkey", "c_name",
                    cents(F.col("o_totalprice")).alias("price_c"), "rnk"))


@q("anti_join_missing",
   "SELECT c_custkey FROM customer WHERE c_custkey NOT IN "
   "(SELECT o_custkey FROM orders)")
def anti_join_missing(spark, sf_dir):
    """U1 setdiff as left_anti (index.jl:145 analog)."""
    c = load_testdata(spark, sf_dir, "customer")
    o = load_testdata(spark, sf_dir, "orders")
    return c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey,
                  "left_anti").select("c_custkey")


@q("union_distinct",
   "SELECT c_nationkey AS nationkey FROM customer UNION "
   "SELECT s_nationkey AS nationkey FROM supplier")
def union_distinct(spark, sf_dir):
    """U3 union + unique across searchers (results.jl:85,163)."""
    c = load_testdata(spark, sf_dir, "customer")
    s = load_testdata(spark, sf_dir, "supplier")
    return (c.select(F.col("c_nationkey").alias("nationkey"))
            .union(s.select(F.col("s_nationkey").alias("nationkey")))
            .distinct())


# --------------------------------------------------------------------------
# Aggregations (A2/A6 analogs), sorts/top-k (T1/T3/T4), windows
# --------------------------------------------------------------------------

@q("groupby_agg", """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
       cast(sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus
""")
def groupby_agg(spark, sf_dir):
    """A1-shape grouped aggregation with partial (map-side) combine.
    Measures are rounded to integer cents PER ROW before summing so the
    accumulation is exact integer math — float sum order across engines
    can otherwise straddle a rounding boundary."""
    li = load_testdata(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(cents(F.col("l_quantity"))).alias("sum_qty_c"),
                 F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_c"),
                 F.count("*").alias("n_rows")))


@q("result_merge_mean", f"""
WITH {FT_STATS_CTE},
mkq AS (
  SELECT 1 AS sid, term FROM (VALUES ('spark'), ('join'), ('data')) AS a(term)
  UNION ALL
  SELECT 2 AS sid, term FROM (VALUES ('window'), ('batch'), ('merge')) AS b(term)
),
qtf AS (
  SELECT m.sid, m.term, count(*)::DOUBLE AS cnt FROM mkq m
  JOIN dfreq USING (term) GROUP BY 1, 2
),
qst AS (SELECT sid, sum(cnt) AS qlen FROM qtf GROUP BY 1),
qw AS (
  SELECT t.sid, t.term,
         (ln(s.n / (d.df + 1)) + 1)
         * ((2.0 + 1) * sqrt(t.cnt / greatest(q.qlen, 1.0)))
         / (2.0 * (1 - 0.75 + 0.75 * q.qlen / s.avgdl)
            + sqrt(t.cnt / greatest(q.qlen, 1.0))) AS wq
  FROM qtf t JOIN dfreq d USING (term) CROSS JOIN stat s
  JOIN qst q ON q.sid = t.sid
),
qn AS (SELECT sid, sqrt(sum(wq * wq)) AS qn FROM qw GROUP BY 1),
sc AS (
  SELECT qw.sid, w.doc_id,
         2 / (exp(2 * 0.4 * (1 - sum((w.w / n.nrm) * (qw.wq / qn.qn)))) + 1) AS score
  FROM w JOIN nrm n USING (doc_id) JOIN qw USING (term)
  JOIN qn ON qn.sid = qw.sid
  GROUP BY 1, 2
),
agg AS (SELECT doc_id, avg(0.8 * score) AS s FROM sc GROUP BY 1)
SELECT doc_id, cast(round(s * 1e6) AS BIGINT) AS agg_score_e6,
       row_number() OVER (ORDER BY round(s, 6) DESC, doc_id ASC) AS rnk
FROM agg WHERE s > 0 QUALIFY rnk <= 15
""")
def result_merge_mean(spark, sf_dir):
    """A6 multi-searcher aggregation: two scored result sets unioned,
    weighted by score_weight=0.8, mean-reduced, zero-dropped, re-sorted,
    trimmed (results.jl:54-145; default strategy :mean, defaults.jl:29)."""
    idx = _ft_index(spark, sf_dir)
    h1 = search(spark, idx, [FT_QUERY], k=1 << 30, hydrate=False,
                pad_to_k=False).withColumn("sid", F.lit(1))
    h2 = search(spark, idx, [FT_QUERY2], k=1 << 30, hydrate=False,
                pad_to_k=False).withColumn("sid", F.lit(2))
    merged = (h1.unionByName(h2)
              .groupBy("doc_id")
              .agg(F.avg(F.lit(0.8) * F.col("score")).alias("s"))
              .where(F.col("s") > 0))
    w = Window.orderBy(F.round(F.col("s"), 6).desc(), F.col("doc_id").asc())
    return (merged.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= 15)
            .select("doc_id", e6(F.col("s")).alias("agg_score_e6"), "rnk"))


@q("topk_orders", """
SELECT o_orderkey, cast(round(o_totalprice * 100) AS BIGINT) AS price_c
FROM orders
QUALIFY row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) <= 20
""")
def topk_orders(spark, sf_dir):
    """T1 exact top-k with stable id tiebreak (naive.jl:21-31)."""
    o = load_testdata(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= 20)
            .select("o_orderkey", cents(F.col("o_totalprice")).alias("price_c")))


@q("filter_sort_page", """
SELECT c_custkey, cast(round(c_acctbal * 100) AS BIGINT) AS bal_c, rnk
FROM (
  SELECT c_custkey, c_acctbal,
         row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer WHERE c_mktsegment = 'HOUSEHOLD'
) WHERE rnk BETWEEN 11 AND 20
""")
def filter_sort_page(spark, sf_dir):
    """T3 filter-sort + T4 pagination (filter.jl:47-51, results.jl:34-41;
    response_page offset windowing, parse_and_eval.jl:44-48)."""
    c = load_testdata(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (c.where(F.col("c_mktsegment") == "HOUSEHOLD")
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk").between(11, 20))
            .select("c_custkey", cents(F.col("c_acctbal")).alias("bal_c"), "rnk"))


@q("window_topk_per_group", """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders WHERE o_custkey < 50
) WHERE rnk <= 3
""")
def window_topk_per_group(spark, sf_dir):
    """§2.5 per-group top-k window — the multi-query top-k primitive."""
    o = load_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                                F.col("o_orderkey").asc())
    return (o.where(F.col("o_custkey") < 50)
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= 3)
            .select("o_custkey", "o_orderkey", "rnk"))


# --------------------------------------------------------------------------
# Scalar functions (F6, F11, F13), streaming-analog batch window
# --------------------------------------------------------------------------

@q("score_transform",
   "SELECT event_id, cast(round((2 / (exp(2 * 0.4 * value) + 1)) * 1e6) AS BIGINT) "
   "AS s_e6 FROM events WHERE event_type = 'click'")
def score_transform(spark, sf_dir):
    """F11 score = 1 − tanh(α·dist) (src/search/index.jl:186-202)."""
    ev = load_testdata(spark, sf_dir, "events")
    return (ev.where(F.col("event_type") == "click")
            .select("event_id",
                    e6(F.lit(1.0) - F.tanh(F.lit(0.4) * F.col("value")))
                    .alias("s_e6")))


@q("chop_to_length",
   "SELECT c_custkey, CASE WHEN length(c_name) > 12 "
   "THEN substring(c_name, 1, 12) || '...' ELSE c_name END AS chopped "
   "FROM customer WHERE c_custkey <= 100")
def chop_to_length(spark, sf_dir):
    """F6 chop_to_length display truncation (src/data/text.jl:81-91)."""
    c = load_testdata(spark, sf_dir, "customer")
    return (c.where(F.col("c_custkey") <= 100)
            .select("c_custkey",
                    F.when(F.length("c_name") > 12,
                           F.concat(F.substring("c_name", 1, 12), F.lit("...")))
                    .otherwise(F.col("c_name")).alias("chopped")))


@q("make_a_string",
   "SELECT o_orderkey, cast(cast(round(o_totalprice) AS BIGINT) AS VARCHAR) "
   "AS price_str FROM orders WHERE o_orderkey <= 200")
def make_a_string(spark, sf_dir):
    """F13 make_a_string scalar stringify (db.jl:41-43); integer-cast
    first since float→string formatting is engine-specific."""
    o = load_testdata(spark, sf_dir, "orders")
    return (o.where(F.col("o_orderkey") <= 200)
            .select("o_orderkey",
                    F.round(F.col("o_totalprice"), 0).cast("long")
                    .cast("string").alias("price_str")))


@q("events_tumbling_window", """
SELECT user_id, cast(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
       count(*) AS n, cast(sum(cast(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_e6
FROM events GROUP BY 1, 2
""")
def events_tumbling_window(spark, sf_dir):
    """§2.9 streaming analog: tumbling-window aggregation expressed in
    batch (the Structured Streaming job uses the same window expr);
    per-row integer rounding before the sum (see groupby_agg)."""
    ev = load_testdata(spark, sf_dir, "events")
    return (ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("_w"))
            .agg(F.count("*").alias("n"),
                 F.sum(e6(F.col("value"))).alias("sum_value_e6"))
            .select("user_id",
                    F.unix_timestamp("_w").cast("long").alias("win_start"),
                    "n", "sum_value_e6"))
