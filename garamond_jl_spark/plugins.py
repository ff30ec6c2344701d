"""Plugin registry: rankers / recommenders / input parsers (SURVEY.md
§2.10).

The reference compiles ``.jl`` files dropped into ``src/*/custom`` at
module init and dispatches by symbol name with a safe noop fallback
(/root/reference/src/Garamond.jl:106-140, safe_symbol_eval
src/data/parse_and_eval.jl:20-27).  Here: plain dict registries with
``register_*`` decorators and the same name-with-fallback dispatch — no
runtime code generation.

Signatures mirror the reference:
* ranker(doc_ids, scores, request, env) → (doc_ids, scores)
  (src/search/rank.jl:17-31)
* recommender(request, env) → query string for the search path
  (src/search/recommend.jl:14-27, recommenders/search.jl:1-66)
"""

from __future__ import annotations

from typing import Any, Callable

RANKERS: dict[str, Callable] = {}
RECOMMENDERS: dict[str, Callable] = {}


def register_ranker(name: str):
    def reg(fn):
        RANKERS[name] = fn
        return fn
    return reg


def register_recommender(name: str):
    def reg(fn):
        RECOMMENDERS[name] = fn
        return fn
    return reg


@register_ranker("noop_ranker")
def noop_ranker(doc_ids: list[int], scores: list[float], request: Any,
                env: Any) -> tuple[list[int], list[float]]:
    """Default ranker (src/search/rank.jl:63-80 noop path)."""
    return doc_ids, scores


def get_ranker(name: str | None) -> Callable:
    return RANKERS.get(name or "noop_ranker", RANKERS["noop_ranker"])


# docs-table columns the index machinery appends (operators/build.py
# doc_table) — never user attributes, excluded from generated queries
ENGINE_DOC_COLUMNS = frozenset({"doclen", "norm", "_pos", "_seq"})

# what MATCH_EXPR's quoted-value character class can represent
# (functions/query_parser.match_expr): alnum/underscore/dot/comma/space
import re as _re
_PARSEABLE_STR = _re.compile(r"[_a-zA-Z0-9.,\s]+")


def _fmt_num(x: float) -> str:
    """Plain-decimal float rendering (never scientific notation)."""
    out = format(x, ".12f").rstrip("0").rstrip(".")
    return out or "0"


def generate_recommend_query(row: dict, id_key: str,
                             fields: list[str] | None = None,
                             separator: str = ":") -> str:
    """F12 numeric→search-string transforms (recommenders/search.jl:17-19):
    float v → interval [0.9v, 1.1v]; string → quoted; build a structured
    key:value query from the seed row, excluding the id key."""
    parts: list[str] = []
    for k, v in row.items():
        if k == id_key or (fields is not None and k not in fields):
            continue
        if fields is None and k in ENGINE_DOC_COLUMNS:
            # engine bookkeeping appended by doc_table (build.py): a
            # doclen equality + +-10% norm interval would filter the
            # candidates down to (nearly) the seed itself
            continue
        if isinstance(v, bool) or v is None:
            continue
        if isinstance(v, float):
            lo, hi = sorted((0.9 * v, 1.1 * v))
            if lo < 0:
                # MATCH_EXPR's value class has no '-' (the reference's
                # regex is the same): the pair would silently never
                # parse, so skip it instead of emitting a dead filter
                continue
            # plain decimal rendering: str() uses scientific notation
            # for small/large floats ('4.5e-05') whose '-'/'+' are
            # ALSO outside the value class
            parts.append(f"{k}{separator}"
                         f"[{_fmt_num(lo)},{_fmt_num(hi)}]")
        elif isinstance(v, int):
            if v < 0:
                continue
            parts.append(f"{k}{separator}{v}")
        elif isinstance(v, str):
            if not _PARSEABLE_STR.fullmatch(v):
                continue               # value unrepresentable in the DSL
            parts.append(f'{k}{separator}"{v}"')
    return " ".join(parts)


@register_recommender("search_recommender")
def search_recommender(request: Any, env: Any) -> str:
    """§3.3: target id → structured query from its row, seed excluded by
    the caller (recommenders/search.jl:1-66)."""
    seed_id = int(request.query.strip())
    # the index docs table is uniformly addressed as doc_id (build_index
    # renames id_col); env.id_key names the RAW data's id column only
    row_df = env.index.docs.where(
        env.index.docs["doc_id"] == seed_id).limit(1)
    rows = row_df.collect()
    if not rows:
        return ""
    return generate_recommend_query(rows[0].asDict(), "doc_id",
                                    fields=request.return_fields or None)


def get_recommender(name: str | None) -> Callable:
    return RECOMMENDERS.get(name or "search_recommender",
                            RECOMMENDERS["search_recommender"])


# --- S3: loader / sampler registries ---------------------------------------
# The reference registers custom data loaders and samplers the same way
# it registers parsers (src/Garamond.jl:106-140 custom-file compile +
# symbol dispatch; identity sampler src/data/samplers/identity.jl:1-4;
# noop loader src/data/noop.jl).  Signatures:
#   loader(spark, source, **kwargs) -> DataFrame
#   sampler(df) -> DataFrame

LOADERS: dict[str, Callable] = {}
SAMPLERS: dict[str, Callable] = {}


def register_loader(name: str):
    def reg(fn):
        LOADERS[name] = fn
        return fn
    return reg


def register_sampler(name: str):
    def reg(fn):
        SAMPLERS[name] = fn
        return fn
    return reg


@register_loader("noop_loader")
def noop_loader(spark: Any, source: Any = None, **kwargs) -> Any:
    """S2 noop loader (src/data/noop.jl): an empty frame with the
    minimal id schema — the 'searchable env with no data' path."""
    from garamond_jl_spark.session import local_frame
    return local_frame(spark, [], "doc_id LONG, content STRING")


@register_loader("parquet_loader")
def parquet_loader(spark: Any, source: str, **kwargs) -> Any:
    """Default table loader (S1 scan through the registry)."""
    return spark.read.parquet(source)


@register_sampler("identity_sampler")
def identity_sampler(df: Any) -> Any:
    """S5 identity sampler (src/data/samplers/identity.jl:1-4)."""
    return df


def get_loader(name: str | None) -> Callable:
    return LOADERS.get(name or "parquet_loader", LOADERS["parquet_loader"])


def get_sampler(name: str | None) -> Callable:
    return SAMPLERS.get(name or "identity_sampler",
                        SAMPLERS["identity_sampler"])
