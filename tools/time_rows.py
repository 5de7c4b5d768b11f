#!/usr/bin/env python
"""Time named registered queries with the noop sink, min-of-N.

Usage: python tools/time_rows.py [-n N] <query> [<query> ...]
Mirrors bench.py methodology (clearCache between runs, noop sink,
min-of-N) for fast in-session A/B of individual rows while optimizing.
Not part of the graded bench; numbers printed as one JSON line. Beside
each row's best wall time it prints that run's process-tree CPU-seconds
without the JVM's JIT compiler threads (perfbench/ledger.py), the figure
that separates a code change from a busy host.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eth_event_stream_spark.plans import QUERIES  # noqa: E402
from eth_event_stream_spark.session import get_spark  # noqa: E402
from perfbench.ledger import ProcTree  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpu_ticks() -> tuple[int, int]:
    """(busy_own, steal) ticks from /proc/stat — steal is the hypervisor
    taking CPU from this sandbox (the episodic noise source here; loadavg
    is useless for attribution because our own just-finished local[32]
    bursts dominate it for minutes)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    user, nice, system = int(parts[1]), int(parts[2]), int(parts[3])
    steal = int(parts[8]) if len(parts) > 8 else 0
    return user + nice + system, steal


def main() -> None:
    args = sys.argv[1:]
    n = 2
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    # JIT compiler threads that live as long as the JVM, so that their CPU
    # can be told apart (as perfbench/run.py starts its JVM)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UseDynamicNumberOfCompilerThreads"
    ).strip()
    spark = get_spark(app_name="time_rows")
    tree = ProcTree()
    # warm-up: JVM + parquet footers, untimed (same as bench.py)
    QUERIES["agg_stats"].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    out: dict[str, float] = {}
    steal_pct: dict[str, float] = {}
    cpu_s: dict[str, float] = {}
    for name in args:
        spark.sparkContext.setJobDescription(f"time_rows: {name}")
        best = float("inf")
        worst_steal = 0.0
        for _ in range(n):
            spark.catalog.clearCache()
            b0, s0 = _cpu_ticks()
            c0 = tree.cpu_s(exclude_jit=True)
            t0 = time.perf_counter()
            QUERIES[name].fn(spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            el = time.perf_counter() - t0
            cpu = tree.cpu_s(exclude_jit=True) - c0
            b1, s1 = _cpu_ticks()
            st = 100.0 * (s1 - s0) / max(1, (b1 - b0) + (s1 - s0))
            if el == min(best, el):
                best, best_steal, best_cpu = el, st, cpu
            worst_steal = max(worst_steal, st)
        out[name] = round(best, 3)
        steal_pct[name] = round(best_steal, 1)
        cpu_s[name] = round(best_cpu, 3)
    print(
        json.dumps(
            {"rows": out, "steal_pct_of_best": steal_pct, "cpu_s_of_best": cpu_s, "n": n}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
