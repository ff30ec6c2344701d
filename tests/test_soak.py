"""Soak: a long-lived session stays healthy under repeated calls.

Ten rounds of exact and impact ``search``, ``ann_lsh_search`` and
``dedup_simhash_pairs`` in one session must leave executor storage
(the AppStatusStore's RDDs with stored blocks) and the index's
driver-side df memos at the level the first round left them: an
operator that materialized a result without releasing it would grow
the storage level by one RDD a round.  The table-schema memo is held
to the same rule: re-reading the same files adds no entry.
"""

import os

from garamond_jl_spark.config import EngineConfig
from garamond_jl_spark.operators.ann import ann_lsh_search
from garamond_jl_spark.operators.build import build_index
from garamond_jl_spark.operators.query import search
from garamond_jl_spark.plans.pipeline_queries import (_emb_long,
                                                      dedup_simhash_pairs)
from garamond_jl_spark.sources import tables

ROUNDS = 10
QUERIES = ["spark window zzqx_oov"]


def _levels(spark, idx):
    """(RDDs holding executor storage, df memo size, absent memo size,
    table schema memo size), read after the listener bus has delivered
    every event so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return (int(sc.statusStore().rddList(True).size()),
            len(idx.meta["_df_memo"]), len(idx.meta["_df_memo_absent"]),
            len(tables._schema_memo))


def test_repeated_calls_keep_storage_and_memos_flat(spark, tiny_sf_dir):
    docs = spark.read.parquet(os.path.join(tiny_sf_dir, "documents.parquet"))
    idx = build_index(spark, docs, EngineConfig(), id_col="doc_id",
                      text_col="text")
    vecs = _emb_long(spark, tiny_sf_dir)
    # the results stay referenced, as a caller's would: storage an
    # operator left behind cannot then be reclaimed by the GC cleaner
    held, levels = [], []
    for _ in range(ROUNDS):
        held += [search(spark, idx, QUERIES, k=5, plan=plan)
                 for plan in ("exact", "impact")]
        held.append(ann_lsh_search(vecs, [0, 1], 5))
        held.append(dedup_simhash_pairs(spark, tiny_sf_dir))
        for df in held[-4:]:
            assert df.collect()
        levels.append(_levels(spark, idx))
    assert levels == levels[:1] * ROUNDS, levels
