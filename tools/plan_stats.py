#!/usr/bin/env python
"""Mechanical plan-stat sweep over registered queries (round 16).

For each named query (default: every bench headline row), build the frame
and count cheap plan-shape signals in .explain("formatted"):
  bytes      formatted plan size (planning cost proxy — the constraint-
             propagation blowups this round all showed up here first)
  exchanges  'Exchange' operator lines (shuffles; excludes reused refs)
  reused     ReusedExchange lines (replication Spark already dedups)
  scans      'Scan parquet' operator lines (in-plan source replication)
  python     nodes that run Python (shipping.PYTHON_PLAN_NODE), Python
             data-source scans included
  joins      join operator lines by strategy

Usage: python tools/plan_stats.py [query ...] > /tmp/plan_stats.tsv
Output: TSV sorted by plan bytes, one row per query. Read-only: frames
are built but never executed, so this is safe to run beside timed work.
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eth_event_stream_spark.plans import QUERIES  # noqa: E402
from eth_event_stream_spark.session import get_spark  # noqa: E402
from eth_event_stream_spark.shipping import PYTHON_PLAN_NODE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    spark = get_spark(app_name="plan_stats")
    rows = []
    for name in names:
        try:
            df = QUERIES[name].fn(spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # driver-loop rows that execute on build, etc.
            print(f"# {name}: {e}", file=sys.stderr)
            continue
        ops = [
            ln for ln in txt.splitlines() if re.match(r"^[\s:+*-]*\(\d+\) ", ln)
        ]

        def n(pat: str) -> int:
            return sum(1 for ln in ops if re.search(pat, ln))

        rows.append(
            (
                len(txt),
                n(r"\) Exchange"),
                n(r"\) ReusedExchange"),
                n(r"\) Scan parquet"),
                n(PYTHON_PLAN_NODE),
                n(r"\) BroadcastHashJoin"),
                n(r"\) SortMergeJoin"),
                n(r"\) ShuffledHashJoin"),
                n(r"\) BroadcastNestedLoopJoin"),
                name,
            )
        )
    rows.sort(reverse=True)
    print("bytes\tex\treuse\tscan\tpy\tbhj\tsmj\tshj\tbnlj\tquery")
    for r in rows:
        print("\t".join(str(x) for x in r))
    spark.stop()


if __name__ == "__main__":
    main()
