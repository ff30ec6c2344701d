"""SparkSession factory with scale-oriented defaults.

Single place where shuffle/AQE/Arrow knobs are set so tests, bench, and
the entry module run identical configs.  On a real cluster the same
builder is driven by spark-submit conf; nothing here is local-mode-only.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

# pin workers to the DRIVER's interpreter unless the deployment set its
# own: local-mode workers otherwise resolve `python3` from PATH, and a
# PATH that drifts to a different minor version kills every Python
# stage with PYTHON_VERSION_MISMATCH
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

# make the package importable in PYTHON WORKERS regardless of the
# driver's cwd: a pickled UDF referencing garamond_jl_spark by name
# (e.g. the stateful-streaming dedup) dies with ModuleNotFoundError
# when the session was launched outside the repo root — workers
# inherit this env, the driver's sys.path does not reach them
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _PKG_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _PKG_ROOT + ((os.pathsep + os.environ["PYTHONPATH"])
                     if os.environ.get("PYTHONPATH") else ""))


def get_spark(app: str = "garamond-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              master: str | None = None,
              executor_memory: str | None = None,
              initial_partitions: int | None = None) -> SparkSession:
    """``master`` overrides the default ``local[cpus]`` — e.g.
    ``local-cluster[4, 8, 6144]`` spawns 4 SEPARATE executor JVMs × 8
    cores × 6 GiB each, the faithful N-executor topology for scaling
    measurements (per-executor heap constant as executors are added,
    like a real cluster; no shared-GC artifact).  ``cpus`` should then
    be the TOTAL core count so shuffle sizing stays right."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # default 8× the core count: the batched score aggregation's hash
    # tables spill at 1 partition/core (measured 3× slowdown at 1M docs,
    # PLANS.md); AQE coalesces the excess away on small stages
    shuffle_partitions = shuffle_partitions or max(8 * cpus, 64)
    builder = (
        SparkSession.builder
        .appName(app)
        .master(master or f"local[{cpus}]"))
    if executor_memory:
        builder = builder.config("spark.executor.memory", executor_memory)
    return (
        builder
        # AQE: runtime coalescing + skew-join splitting (SURVEY.md §4.2)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # ``initial_partitions``: start every AQE shuffle WIDE and let
        # coalescing shrink small stages — bounds per-task
        # aggregation/window state on huge batches (the 2400-query leg
        # GCLocker-crashed an 8 g heap at 256 final-agg partitions,
        # BENCH.md r4).  Callers that know their workload derive it
        # from input size (bench/scaling_job.py: docs × queries); it is
        # NOT set by default because a session-wide wide start taxes
        # every small stage (the r5 headline regressed 15 → 32 s with
        # a blanket 1024 — BENCH.md r5 initialPartitionNum table).
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(initial_partitions)
                if initial_partitions else str(shuffle_partitions))
        # deterministic time semantics everywhere: date_trunc/window
        # otherwise follow the HOST zone, and the tumbling-window parity
        # row would group rows differently on a non-UTC machine while
        # its DuckDB oracle truncates naive (UTC) timestamps
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow everywhere: pandas UDFs are the only Python in the plan
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver heap IS the executor memory.  8g flat:
        # G1 on this box degrades MONOTONICALLY with heap size at high
        # thread counts (3M-doc build @32: 29.3 s at 8g, 58.6 s at 16g,
        # and 64g was 3-12× slower across the sf0.1 suite — BENCH.md
        # round-2 regression notes).  A real cluster sizes PER-EXECUTOR
        # heaps (4-8g each); a single fat local heap has no cluster
        # analog.  Workloads that genuinely need more (≥10M docs in one
        # JVM) set SPARK_DRIVER_MEM explicitly.
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # generated-class cache sized to the working set, so a warm
        # repeat of a plan compiles nothing.  Spark's default keeps 100
        # classes, LRU: one warm near_dup pass needs ~145, so under it
        # every warm call missed on every class.  One cold pass of the
        # 69 queries() leaves compiles 1431 distinct classes (sf0.01,
        # local[8]), and a warm pass ~230 more it had not seen; 2000
        # holds both.  Static: it only takes effect here
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # the cache key is the generated source, and by default the
        # class name carries the whole-stage codegen id, which AQE
        # assigns in the order it creates query stages: the same plan
        # numbered the other way round compiled again (4 classes in 1
        # of 15 warm ann_lsh_topk calls, sf0.001; 0 in 24 without ids)
        .config("spark.sql.codegen.useIdInClassName", "false")
        .getOrCreate()
    )


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                schema: StructType | str) -> DataFrame:
    """The one way driver-side rows enter a plan: a ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` plans a ``LogicalRDD``
    over ``sc.parallelize``, so EVERY job that reads the frame
    re-pickles its rows in Python-worker tasks (a ``parallelize →
    mapPartitions → map`` stage per read).  Built from a
    ``pyarrow.Table`` instead, the frame is a ``LocalRelation``: a
    ``collect()`` of it (or of a projection of it) is evaluated on the
    driver with no job, and a broadcast of it is a ``LocalTableScan``.

    ``rows`` are positional tuples (``Row`` included) in ``schema``
    order; ``schema`` is a ``StructType`` or a DDL string.  Values
    convert through Arrow's SAFE cast: ints widen to DOUBLE, while a
    fractional float in an integral column or a None in a
    non-nullable one raises instead of truncating."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    width = len(arrow_schema)
    if any(len(r) != width for r in rows):
        raise ValueError(f"every row must have {width} fields")
    cols = list(zip(*rows)) if rows else [()] * width
    arrays = []
    for col, field in zip(cols, arrow_schema):
        arr = pa.array(col).cast(field.type)
        if not field.nullable and arr.null_count:
            raise ValueError(f"None in non-nullable column {field.name!r}")
        arrays.append(arr)
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema)
