"""Custom stateful Structured Streaming operators via
``applyInPandasWithState`` (Arrow-batched keyed state — the Spark-native
way to express operators the built-in windowed aggregations can't).

First citizen: **streaming first-seen dedup** — the streaming analog of
``dedup_exact`` (reference semantics: an id/content pushed twice must
not enter the index twice, the push!/consistency guard of
``src/searchable/env_operations.jl``; at pipeline scale this is the
"emit each document once, ever" operator a training-data ingest needs).
Keyed by content hash; state is one boolean per hash; a duplicate
arriving ANY number of batches later is suppressed — something a
stateless ``dropDuplicates`` per batch cannot do, and a watermarked
``dropDuplicates`` only does within the watermark horizon.

Scale shape: state is partitioned by the hash key across executors
(RocksDB/HDFS state store on a real cluster), each micro-batch touches
only its own keys, and the emitted row is the per-key minimum doc_id so
a single batch's output is deterministic regardless of intra-batch
arrival order.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BooleanType, LongType, StringType,
                               StructField, StructType)

from garamond_jl_spark.session import local_frame

OUTPUT_SCHEMA = StructType([
    StructField("h", StringType()),
    StructField("keep_doc_id", LongType()),
])
STATE_SCHEMA = StructType([StructField("seen", BooleanType())])


def _first_seen(key: tuple, pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    """Emit (h, min doc_id) the FIRST time the key is seen; afterwards
    the key's state suppresses every later occurrence."""
    if state.exists:
        # drain the iterator (contract) and emit nothing
        for _ in pdfs:
            pass
        return
    best = None
    for pdf in pdfs:
        if len(pdf):
            m = int(pdf["doc_id"].min())
            best = m if best is None or m < best else best
    if best is None:
        return
    state.update((True,))
    yield pd.DataFrame({"h": [key[0]], "keep_doc_id": [best]})


def first_seen_dedup(hashed: DataFrame) -> DataFrame:
    """(h, doc_id) streaming DataFrame → first-seen survivors
    (h, keep_doc_id), one output row per distinct hash ever seen."""
    return (hashed.groupBy("h")
            .applyInPandasWithState(_first_seen, OUTPUT_SCHEMA, STATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_dedup_first_seen(spark: SparkSession, source_dir: str,
                            schema: str, out_dir: str,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            checkpoint_dir: str | None = None) -> DataFrame:
    """Drain ``source_dir`` (parquet file source, Trigger.AvailableNow)
    through the stateful first-seen dedup and append survivors to
    ``out_dir`` as parquet; returns the survivors table.  A production
    deployment drops the trigger and runs continuously — state persists
    in the checkpoint, so a restart resumes with every
    previously-seen hash still suppressed.

    Semantics: FIRST-SEEN wins — the emitted doc_id is the minimum
    within the first micro-batch containing the hash.  That equals
    ``dedup_exact``'s global-min only when the drain lands in a single
    micro-batch (the availableNow file source splits on
    ``maxFilesPerTrigger``); a multi-batch drain keeps the earlier
    batch's min, which is the intended streaming-arrival-order
    semantics, not a bug — but batch-parity tests must keep the input
    in one trigger."""
    ckpt = checkpoint_dir or os.path.join(out_dir, "_dedup_checkpoint")
    src = spark.readStream.schema(schema).parquet(source_dir)
    hashed = src.select(F.md5(F.col(text_col)).alias("h"),
                        F.col(id_col).cast("long").alias("doc_id"))
    (first_seen_dedup(hashed)
     .writeStream.format("parquet")
     .option("path", out_dir)
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start().awaitTermination())
    if not any(f.endswith(".parquet") for f in
               (os.listdir(out_dir) if os.path.isdir(out_dir) else [])):
        # a drain with zero survivors may never create data files —
        # return an empty frame with the output schema instead of
        # letting the read throw
        return local_frame(spark, [], OUTPUT_SCHEMA)
    return spark.read.parquet(out_dir)
