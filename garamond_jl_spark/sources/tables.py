"""Table IO abstraction (reference operators S1-S4).

The reference loads CSV via JuliaDB (S1, /root/reference/src/data/loaders/
juliadb.jl:1-3) and persists whole-environment caches to a file (S4,
src/searchable/env.jl:31-39).  Here, *tables are the cache*: index state
lives as Iceberg/parquet tables and "load" is just a table read.

This sandbox has no Iceberg jars, so ``read_table``/``write_table``
abstract the catalog: a name containing ``/`` (or ending ``.parquet``)
is a parquet path; otherwise it is resolved as ``spark.read.table`` —
i.e. an Iceberg/HMS catalog table in production.  All engine code goes
through these two functions, so pointing the engine at a real Iceberg
catalog is a config change, not a code change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = ("region nation customer supplier part orders lineitem "
                   "events documents embeddings").split()

# file identity → inferred schema.  Inference runs a footer-reading job
# on every ``spark.read.parquet``; a read given the schema runs none, and
# a warm leaf re-reads the same few files.  Bounded: a long-lived
# session may be pointed at many files
SCHEMA_MEMO_CAP = 256
_schema_memo: dict[tuple, StructType] = {}


def is_path(name: str) -> bool:
    return "/" in name or name.endswith(".parquet")


def read_table(spark: SparkSession, name: str) -> DataFrame:
    if is_path(name):
        return spark.read.parquet(name)
    return spark.read.table(name)


def write_table(df: DataFrame, name: str, mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if is_path(name):
        w.parquet(name)
    else:
        w.saveAsTable(name)


def load_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver-provided testdata table (TESTDATA.md).

    The schema is inferred once per file: it is memoized under the
    file's identity (absolute path, mtime, size, inode), so a file
    rewritten at the same path is inferred again, and later reads pass
    it to ``spark.read.schema`` and run no job."""
    path = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size, st.st_ino)
    schema = _schema_memo.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        while len(_schema_memo) >= SCHEMA_MEMO_CAP:
            _schema_memo.pop(next(iter(_schema_memo)), None)
        _schema_memo[key] = schema
    return spark.read.schema(schema).parquet(path)
