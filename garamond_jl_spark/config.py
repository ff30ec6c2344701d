"""Engine configuration and pinned scoring constants.

This module pins the exact scoring semantics of the reference
(zgornel/Garamond.jl) "classic search" path with ``vectors=bm25`` and
``vectors_transform=none``, as derived in SURVEY.md §2.4.1.

Reference evidence (all paths relative to /root/reference/):

* BM25 parameter defaults κ=2, β=0.75 — src/config/defaults.jl:19-20
  (``DEFAULT_BM25_KAPPA`` / ``DEFAULT_BM25_BETA``).  The north rule's
  "k1=1.2, b=0.75" is exposed as the engine-config default here; both
  are parameters of the same expression.
* score transform ``score = 1 - tanh(alpha * dist)``, alpha default 0.5
  — src/search/index.jl:186-202, src/config/defaults.jl:25; the
  reference test config uses 0.4 (test/configs/configgenerator.jl:46).
* Float32 vector eltype — src/config/defaults.jl:13.
* max_matches default (the request-level ``InternalRequest.max_matches``,
  plans/lifecycle.py) — src/config/defaults.jl:61.
* text strip flags — src/config/defaults.jl:32-37.

[SA-public] formulas (StringAnalysis.jl v0.4.0 ``src/stats.jl`` lineage,
pinned per SURVEY.md §2.4.1 — change HERE and only here if re-pinning):

    tf(t, d)   = sqrt(count(t, d) / max(doclen_d, 1))
    idf(t)     = log(n_docs / (df_t + 1)) + 1
    bm25(t, d) = idf(t) * (κ+1)·tf(t,d) /
                 (κ·(1 − β + β·doclen_d / avg_doclen) + tf(t,d))

Query embedding: the query is a *pseudo-document* weighted with the
corpus statistics captured at build time (src/embedder/dtv.jl:29-41):
tokens are counted against the model vocabulary, OOV tokens dropped,
``doclen_q`` = total count of in-vocab query tokens, and the same
tf/bm25 expressions applied.  Both document and query vectors are
L2-normalized, similarity is the dot product (cosine), distance is
``1 − cos`` (src/index/naive.jl:14-32).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

# --- pinned [SA-public] BM25 constants (see module docstring) -------------
REFERENCE_BM25_KAPPA: float = 2.0  # Garamond default κ (defaults.jl:19)
REFERENCE_BM25_BETA: float = 0.75  # Garamond default β (defaults.jl:20)
NORTH_RULE_K1: float = 1.2         # classical Okapi default per north rule
NORTH_RULE_B: float = 0.75

DEFAULT_SCORE_ALPHA: float = 0.5   # defaults.jl:25
TEST_SCORE_ALPHA: float = 0.4      # test/configs/configgenerator.jl:46
# hot-term salting: number of salt buckets for the two-stage groupBy used
# for document-frequency aggregation at web scale (Zipf head terms).
DEFAULT_TERM_SALT_BUCKETS: int = 64


def tf_weight(count: float, doclen: float) -> float:
    """Scalar [SA-public] sqrt-scaled term frequency (oracle-side)."""
    return math.sqrt(count / max(doclen, 1.0))


def idf_weight(n_docs: float, df: float) -> float:
    """Scalar [SA-public] idf (oracle-side)."""
    return math.log(n_docs / (df + 1.0)) + 1.0


def bm25_weight(count: float, doclen: float, avgdl: float,
                n_docs: float, df: float,
                kappa: float = REFERENCE_BM25_KAPPA,
                beta: float = REFERENCE_BM25_BETA) -> float:
    """Scalar [SA-public] BM25 cell weight (oracle-side)."""
    tf = tf_weight(count, doclen)
    return idf_weight(n_docs, df) * ((kappa + 1.0) * tf) / (
        kappa * (1.0 - beta + beta * doclen / avgdl) + tf
    )


@dataclass(frozen=True)
class EngineConfig:
    """Runtime configuration of the engine (analog of the reference's
    per-searcher JSON config, src/searchable/config_parser.jl:62-360).
    """

    kappa: float = REFERENCE_BM25_KAPPA
    beta: float = REFERENCE_BM25_BETA
    score_alpha: float = DEFAULT_SCORE_ALPHA
    weighting: str = "bm25"          # count | tf | tfidf | bm25 (defaults.jl:10)
    term_salt_buckets: int = DEFAULT_TERM_SALT_BUCKETS
    # text preparation flags — mirrors DEFAULT_TEXT_STRIP_FLAGS
    # (defaults.jl:32-37): strip case, punctuation, whitespace runs,
    # accents; article/preposition stop-lists off for code corpora.
    lowercase: bool = True
    strip_accents: bool = True
    strip_stopwords: bool = False
    token_pattern: str = r"[a-z0-9_]+"  # post-lowercase token shape
    # Stem tokens after the strips (the reference's stem_words
    # StringAnalysis flag, interface.jl:63; DEFAULT_STEM_WORDS=false,
    # defaults.jl:7).  The algorithm is selected by ``language``.
    stem_words: bool = False
    # reference `language` config key (defaults.jl:134-143
    # SUPPORTED_LANGUAGES; Snowball dispatch via Languages.jl).
    # Selects the stemmer: english → Porter (functions/stemmer.py),
    # german/french → Snowball (functions/snowball.py); other
    # supported languages have no shipped stemmer and env_config
    # warns stem_words off for them.
    language: str = "english"
    # F3: index tokens of every order 1..n (TextAnalysis-style cumulative
    # ngramize; reference config_parser.jl:142-146 + dtv.jl:36-39,
    # DEFAULT_NGRAM_COMPLEXITY=1 defaults.jl:9)
    ngram_complexity: int = 1
    # E8 OOV policy (defaults.jl:26-27): "none" ⇒ an all-OOV document is
    # the zero vector (cos 0 with every query); "large_vector" ⇒ it
    # embeds as the constant DEFAULT_OOV_VAL vector (dtv.jl:53-58),
    # which after L2-normalization scores cos = Σ qw / √|V| against any
    # query.  Queries stay gated by is_embedded regardless of policy
    # (search/index.jl:106-113 `if first(status)`).
    oov_policy: str = "none"
    extra: dict = field(default_factory=dict)


def cfg_to_dict(cfg: EngineConfig) -> dict:
    """Serialize EVERY EngineConfig field for meta.json.  The query path
    reads tokenization flags (lowercase/strip_accents/strip_stopwords/
    token_pattern) as well as scoring constants — a persisted index must
    round-trip all of them or load_index silently tokenizes queries
    differently than the build did."""
    import dataclasses
    d = dataclasses.asdict(cfg)
    if not d.get("extra"):
        d.pop("extra", None)
    return d


def cfg_from_dict(d: dict) -> EngineConfig:
    """Inverse of :func:`cfg_to_dict`; unknown keys are ignored so older
    engines can open newer meta files."""
    import dataclasses
    known = {f.name for f in dataclasses.fields(EngineConfig)}
    return EngineConfig(**{k: v for k, v in d.items() if k in known})


REFERENCE_CONFIG = EngineConfig(score_alpha=TEST_SCORE_ALPHA)
NORTH_RULE_CONFIG = EngineConfig(kappa=NORTH_RULE_K1, beta=NORTH_RULE_B)
