"""``load_testdata`` infers each file's schema once.

The memo is keyed by file identity, so an unchanged file is read with
its memoized schema and no inference job, a file rewritten at the same
path is inferred again, and the memo never grows past its cap.
"""

import pyarrow as pa
import pyarrow.parquet as pq

from garamond_jl_spark.sources import tables
from garamond_jl_spark.sources.tables import load_testdata


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(group + "-done", "")
    return out, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_unchanged_file_is_read_without_a_job(spark, tmp_path):
    _write(tmp_path / "documents.parquet", doc_id=[1, 2], text=["a", "b"])
    first, cold = _jobs_of(spark, "schema-cold",
                           lambda: load_testdata(spark, str(tmp_path),
                                                 "documents"))
    again, warm = _jobs_of(spark, "schema-warm",
                           lambda: load_testdata(spark, str(tmp_path),
                                                 "documents"))
    # the control: inference does run a job, so the count measures
    assert cold >= 1
    assert warm == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "documents.parquet"
    _write(path, doc_id=[1, 2], text=["a", "b"])
    assert load_testdata(spark, str(tmp_path), "documents").columns \
        == ["doc_id", "text"]
    _write(path, doc_id=[1, 2], text=["a", "b"], lang=["en", "de"])
    got = load_testdata(spark, str(tmp_path), "documents")
    assert got.columns == ["doc_id", "text", "lang"]
    assert sorted(r["lang"] for r in got.collect()) == ["de", "en"]


def test_schema_memo_stays_within_its_cap(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_schema_memo", {})
    monkeypatch.setattr(tables, "SCHEMA_MEMO_CAP", 2)
    for n in range(4):
        sf = tmp_path / f"sf{n}"
        sf.mkdir()
        _write(sf / "documents.parquet", doc_id=[n])
        assert load_testdata(spark, str(sf), "documents").collect()[0][0] \
            == n
        assert len(tables._schema_memo) <= 2
    # the newest file is the one kept
    assert any(k[0].startswith(str(tmp_path / "sf3"))
               for k in tables._schema_memo)
