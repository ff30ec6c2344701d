"""Print a registered leaf's formatted physical plan.

Builds the leaf's DataFrame from the ``queries()`` registry (the same
programs the oracle gate runs) and prints ``explain("formatted")`` —
building a leaf may run the jobs it needs to plan (collects of query
vectors), but the leaf itself is not executed.  Diff two
trees' output, with expression ids stripped (``sed -E 's/#[0-9]+//g'``),
to check that a refactor kept a plan operator-identical.

Usage: python tools/explain.py <leaf> [sf_dir]
(sf_dir defaults to $SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from garamond_jl_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = (sys.argv[2] if len(sys.argv) > 2
              else os.environ.get("SPARK_GRAFT_SF_DIR"))
    if len(sys.argv) < 2 or not sf_dir:
        print("\n".join(__doc__.strip().splitlines()[-2:]), file=sys.stderr)
        return 2
    leaf = sys.argv[1]
    qs = entrymod.queries()
    if leaf not in qs:
        print(f"unknown leaf {leaf!r}; registered: {', '.join(qs)}",
              file=sys.stderr)
        return 2
    spark = get_spark("explain", cpus=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        qs[leaf](spark, sf_dir).explain("formatted")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
