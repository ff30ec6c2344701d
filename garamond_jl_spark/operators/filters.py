"""indexfilter → Catalyst predicate compiler (reference P3-P10, T3).

Behavior-port of /root/reference/src/search/filter.jl:1-62:

* scalar value        → equality (P3, filter.jl:15)
* tuple               → set membership (P4, filter.jl:17)
* tuple of strings    → contains-ANY substring (P5, filter.jl:19-20)
* list (len ≥ 2)      → closed interval [v0, v1] (P6, filter.jl:22-31);
                        malformed list → pass-through predicate
* conjunction of all keys (P7, filter.jl:53-58)
* unknown filter/sort keys silently dropped (P8, filter.jl:36-44)
* optional exclude id (P9, filter.jl:61)
* optional multi-key sort with reverse (T3, filter.jl:47-51)

Everything compiles to Column expressions — Catalyst pushes them into
the parquet/Iceberg scan (predicate pushdown + partition pruning replace
the reference's manual select-hygiene, SURVEY.md §4.1).
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from garamond_jl_spark.session import local_frame


def filter_predicate(key: str, val: Any) -> Column:
    c = F.col(key)
    if isinstance(val, tuple):
        if val and all(isinstance(v, str) for v in val):
            return reduce(or_, [c.contains(v) for v in val])  # P5
        return c.isin(list(val))                              # P4
    if isinstance(val, list):
        if len(val) >= 2:
            return (c >= F.lit(val[0])) & (c <= F.lit(val[1]))  # P6
        return F.lit(True)  # malformed interval → pass-through
    return c == F.lit(val)                                    # P3


def indexfilter(df: DataFrame, filter_query: dict[str, Any],
                id_key: str = "doc_id",
                sort_keys: list[str] | None = None,
                sort_reverse: bool = False,
                exclude: Any | None = None) -> DataFrame:
    """Returns the filtered/sorted id projection (filter.jl returns a
    Vector{Int}; here a 1-column DataFrame, kept lazy for semi-joins)."""
    cols = set(df.columns)
    if id_key not in cols:
        return local_frame(df.sparkSession, [], f"{id_key} long")
    preds = [filter_predicate(k, v) for k, v in filter_query.items()
             if k in cols]  # P8: unknown keys dropped
    out = df
    if preds:
        out = out.where(reduce(lambda a, b: a & b, preds))  # P7
    if exclude is not None:
        out = out.where(F.col(id_key) != F.lit(exclude))    # P9
    safe_sort = [k for k in (sort_keys or []) if k in cols]
    if safe_sort:
        order = [F.col(k).desc() if sort_reverse else F.col(k).asc()
                 for k in safe_sort]
        out = out.orderBy(*order)
    return out.select(id_key)
