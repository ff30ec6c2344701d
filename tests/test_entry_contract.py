"""Driver-contract invariants for __spark_entry__ (no Spark session:
pure registry checks that run in milliseconds)."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                ".."))
import __spark_entry__ as entry  # noqa: E402


def test_every_query_has_oracle_or_is_documented_rows_only():
    qs, osql = entry.queries(), entry.oracle_sql()
    missing = sorted(set(qs) - set(osql))
    # the remaining rows-only entries carry NumPy identity pytests
    # instead (disc was promoted to a hash row in round 5; sif/lsa stay
    # rows-only — PC removal / SVD are eigen-decompositions no SQL
    # oracle reproduces, summarize is iterative TextRank)
    assert missing == ["multimodal_features", "semantic_lsa_topk",
                       "semantic_sif_topk", "text_summarize"]
    assert not set(osql) - set(qs)        # no orphan oracles


def test_gate_head_fits_driver_snapshot():
    """The driver's correctness artifact captures the FIRST 50 registry
    entries; every hash-checked query must sit in that window.  The
    _gate_ordered assert enforces it at runtime — this pins it in CI
    so a registry addition without a GATE_TAIL update fails here, not
    in the next round's CORRECTNESS file."""
    qs = entry.queries()
    names = list(qs)
    head, tail = names[:50], names[50:]
    assert len(names) - len(entry.GATE_TAIL) <= 50
    assert set(tail) <= set(entry.GATE_TAIL)
    # the rows-only entries (weaker check) all sit in the tail, so the
    # snapshot's 50 rows are maximally hash-checked
    osql = entry.oracle_sql()
    rows_only = {n for n in qs if n not in osql}
    assert rows_only <= set(entry.GATE_TAIL)
    assert all(n in osql for n in head)


# sha256 over (name, SQL) of every oracle in name order, measured on
# the frozen registry: any change to an oracle text (a reordered mask
# list, a renamed constant spliced into an f-string) changes it
ORACLE_SQL_SHA256 = \
    "8da669a2607355c4f24d96b973f416b7a00bb47f110bbd58f766f0204f28a5fc"


def test_oracle_sql_text_is_frozen():
    import hashlib
    osql = entry.oracle_sql()
    assert len(osql) == 65
    h = hashlib.sha256()
    for name in sorted(osql):
        h.update(name.encode())
        h.update(osql[name].encode())
    assert h.hexdigest() == ORACLE_SQL_SHA256
