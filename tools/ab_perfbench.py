#!/usr/bin/env python3
"""Alternating A/B of ``perfbench/run.py``: a pinned parent checkout against
this checkout.

    python3 tools/ab_perfbench.py --base-ref HEAD~1 --base-dir /tmp/ab_base \\
        --workload chain_drain --pairs 10 --seeds 11-20 --out ab.jsonl

Each pair runs the same seed once on each side (``--seconds``, ``--trace
0``); the side that goes first alternates from pair to pair, so a slow
stretch of the host lands on both. ``--base-dir`` is the parent's checkout:
if it does not exist it is extracted from ``--base-ref`` with ``git
archive`` and pinned to that commit (a later run refuses a directory
pinned to another). Nothing under ``perfbench/`` is edited.

Every run is appended to ``--out`` as one JSON line; ``--summarize`` reads
such a file back without running anything. The summary gives, per workload
and end-to-end metric of ``BENCHMARK.json``, each side's median and
quartiles, how many pairs the change won, and whether the medians differ
by more than the parent's interquartile range, plus failed ops and each
side's host steal (CPU time the hypervisor took during the measurement).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PIN = ".ab_base_commit"


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", ROOT, *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def pin_base(ref: str | None, base_dir: str) -> str:
    """The parent checkout at ``base_dir``, extracted from ``ref`` when it
    is missing. Returns the commit it holds."""
    pin = os.path.join(base_dir, PIN)
    want = _git("rev-parse", "--verify", f"{ref}^{{commit}}") if ref else None
    if os.path.isdir(base_dir):
        have = None
        if os.path.exists(pin):
            with open(pin) as f:
                have = f.read().strip()
        if want is not None and have != want:
            sys.exit(f"{base_dir} holds {have or 'an unpinned tree'}, not {want}")
        return have or "unpinned"
    if want is None:
        sys.exit(f"{base_dir} does not exist; pass --base-ref to create it")
    os.makedirs(base_dir)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", want], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", base_dir], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {want} failed")
    with open(pin, "w") as f:
        f.write(want + "\n")
    return want


def run_once(side: str, tree: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    rec = {"side": side, "workload": workload, "seed": seed, "rc": p.returncode}
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        rec["error"] = p.stderr[-2000:]
        return rec
    rec["attempted"], rec["failed"] = result["attempted"], result["failed"]
    rec["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    steal = re.search(r"^host_steal_s: ([0-9.eE+-]+)$", p.stderr, re.M)
    rec["host_steal_s"] = float(steal.group(1)) if steal else None
    return rec


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records: list[dict], metrics: list[dict]) -> str:
    out = []
    for workload in sorted({r["workload"] for r in records}):
        recs = [r for r in records if r["workload"] == workload]
        # a pair is the two sides' runs of one (pair index, workload)
        pairs: dict[int, dict[str, dict]] = {}
        for r in recs:
            pairs.setdefault(r["pair"], {})[r["side"]] = r
        full = [p for p in pairs.values() if {"base", "change"} <= set(p)]
        out.append(f"== {workload}: {len(full)} complete pairs")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            got = [
                (p["base"]["metrics"][name], p["change"]["metrics"][name])
                for p in full
                if name in p["base"].get("metrics", {}) and name in p["change"].get("metrics", {})
            ]
            if not got:
                out.append(f"  {name}: no data")
                continue
            base, change = [b for b, _ in got], [c for _, c in got]
            bq, cq = _quartiles(base), _quartiles(change)
            wins = sum((c < b) if lower else (c > b) for b, c in got)
            gap = abs(cq[1] - bq[1])
            out.append(
                f"  {name} ({m['unit']}): base {bq[1]:.4g} [{bq[0]:.4g}-{bq[2]:.4g}]"
                f"  change {cq[1]:.4g} [{cq[0]:.4g}-{cq[2]:.4g}]"
                f"  change/base {cq[1] / bq[1]:.3f}  change won {wins}/{len(got)}"
                f"  |median gap| {'>' if gap > bq[2] - bq[0] else '<='} base IQR"
            )
        for side in ("base", "change"):
            rs = [p[side] for p in full]
            steal = [r["host_steal_s"] for r in rs if r.get("host_steal_s") is not None]
            failed = sum(r.get("failed", 0) for r in rs)
            attempted = sum(r.get("attempted", 0) for r in rs)
            errors = sum("error" in r for r in rs)
            out.append(
                f"  {side}: failed ops {failed}/{attempted}, runs without a result {errors}, "
                f"host steal s {' '.join(f'{s:.1f}' for s in steal)}"
            )
    return "\n".join(out)


def _seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base-dir", help="the parent's checkout (created from --base-ref if missing)")
    ap.add_argument("--base-ref", help="git ref the parent checkout is pinned to")
    ap.add_argument("--workload", action="append", help="repeatable; default: every BENCHMARK.json workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1-10", help="e.g. 11-20 or 1,2,4-10; pair i runs seed i mod n")
    ap.add_argument("--seconds", type=float, default=None, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--out", help="append every run to this JSON-lines file")
    ap.add_argument("--summarize", help="summarize this JSON-lines file and exit")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    if args.summarize:
        with open(args.summarize) as f:
            print(summarize([json.loads(line) for line in f if line.strip()], metrics))
        return 0
    if not args.base_dir:
        ap.error("--base-dir is required unless --summarize is given")
    commit = pin_base(args.base_ref, args.base_dir)
    print(f"base {args.base_dir} @ {commit}; change {ROOT}", file=sys.stderr)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    seeds = _seeds(args.seeds)
    trees = {"base": args.base_dir, "change": ROOT}
    records = []
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for workload in workloads:
            for side in order:
                rec = dict(run_once(side, trees[side], workload, seed, seconds), pair=i)
                records.append(rec)
                cpu = rec.get("metrics", {}).get("cpu_no_jit_s")
                print(f"pair {i} seed {seed} {workload} {side}: cpu_no_jit_s {cpu}", file=sys.stderr)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
    print(summarize(records, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
