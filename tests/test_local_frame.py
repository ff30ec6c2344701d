"""session.local_frame: driver rows enter a plan as a LocalRelation.

The helper must return exactly what ``spark.createDataFrame(rows,
schema)`` returns, while its plan leaf is a ``LocalRelation`` whose
collect runs no Spark job (``createDataFrame(<list>)`` plans a
``LogicalRDD`` that re-runs Python-worker tasks in every job reading
it).  An AST guard keeps it the only way driver lists become frames;
a second keeps ``localCheckpoint``/``checkpoint`` out of the package.
"""

import ast
import pathlib

import pytest
from pyspark.sql import Row

from garamond_jl_spark.operators.query import QTERMS_SCHEMA
from garamond_jl_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "garamond_jl_spark"

# (module, enclosing function) of the createDataFrame calls whose input
# is NOT a driver-side list
CREATE_DATAFRAME_ALLOWED = {
    ("session.py", "local_frame"),          # the helper itself
    ("operators/semantic.py", "lsa_projection"),   # zipWithIndex RDD
}

PAGE = "doc_id LONG, score DOUBLE, rank INT"

CASES = {
    "empty": ([], [], PAGE),
    "ddl": ([(1, 0.5, 1), (2, 0.25, 2)], None, PAGE),
    "struct_non_nullable": ([(0, "a", 0.5), (1, "b", 1.0)], None,
                            QTERMS_SCHEMA),
    "page_rows": ([Row(doc_id=7, score=0.5, rank=1),
                   Row(doc_id=3, score=0.25, rank=2)], None, PAGE),
    "int_into_double": ([(1, 2, 3)], [(1, 2.0, 3)],
                        "a INT, b DOUBLE, c LONG"),
    "nullable_none": ([(1, None), (None, "x")], None, "a INT, s STRING"),
}


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(group + "-done", "")
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, ref_rows, schema = CASES[case]
    ref = spark.createDataFrame(rows if ref_rows is None else ref_rows,
                                schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == ref.schema
    leaf = got._jdf.queryExecution().analyzed().toString().splitlines()[-1]
    assert leaf.lstrip(" +-:").startswith("LocalRelation"), leaf
    got_rows, jobs = _jobs_of(spark, f"local-frame-{case}", got.collect)
    ref_rows_out, ref_jobs = _jobs_of(spark, f"create-df-{case}",
                                      ref.collect)
    assert got_rows == ref_rows_out
    assert jobs == 0 and ref_jobs == 1


@pytest.mark.parametrize("rows,schema", [
    ([(1.5, 2.0)], "a INT, b DOUBLE"),        # would truncate to 1
    ([(None, "t", 1.0)], QTERMS_SCHEMA),      # None in non-nullable
    ([(1,)], "a INT, b DOUBLE"),              # short row
])
def test_local_frame_rejects_lossy_rows(spark, rows, schema):
    with pytest.raises(ValueError):   # ArrowInvalid is a ValueError
        local_frame(spark, rows, schema)


def _call_sites(node, rel, attrs, fn="<module>"):
    """(module, enclosing function, line) of every ``*.<attr>(`` call
    under ``node`` with ``attr`` in ``attrs``."""
    for child in ast.iter_child_nodes(node):
        if isinstance(child, ast.Call) and \
                isinstance(child.func, ast.Attribute) and \
                child.func.attr in attrs:
            yield rel, fn, child.lineno
        inner = child.name if isinstance(
            child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
        yield from _call_sites(child, rel, attrs, inner)


def _package_call_sites(*attrs):
    return [site for path in sorted(PKG.rglob("*.py"))
            for site in _call_sites(ast.parse(path.read_text()),
                                    path.relative_to(PKG).as_posix(),
                                    attrs)]


def test_driver_rows_only_enter_plans_through_local_frame():
    """Every createDataFrame call in the package is either the helper
    itself or a named non-list input; a new ``createDataFrame(<list>)``
    would bring back a Python-worker stage per job reading it."""
    sites = _package_call_sites("createDataFrame")
    stray = [s for s in sites if s[:2] not in CREATE_DATAFRAME_ALLOWED]
    assert stray == [], f"route these through session.local_frame: {stray}"
    # the allow-list names live sites only
    assert {s[:2] for s in sites} == CREATE_DATAFRAME_ALLOWED


def test_operators_never_checkpoint():
    """An operator returns a lazy plan or a ``local_frame``: a
    ``localCheckpoint``/``checkpoint`` pins executor blocks its caller
    never releases and hides the operator's plan behind a scan."""
    sites = _package_call_sites("localCheckpoint", "checkpoint")
    assert sites == [], f"return the plan or a local_frame: {sites}"
