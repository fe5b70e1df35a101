"""High-vs-low-core comparison at sf1 (r12 verdict item 9): driver-
visible parallelism evidence for the heaviest bench entries, measured
where the work is NOT floor-bound (sf0.1 is per-job fixed-cost bound —
PERF_r12's own 8-vs-32 block shows every sf0.1 ratio in 0.62–1.24, so
parallel-scaling claims cannot rest there).

Each (query, cores) cell runs in its OWN subprocess (a SparkSession's
master is fixed at creation; $SPARK_GRAFT_CPUS is honored by
session.get_spark): ``tools/measure.py`` times the query to the noop
sink after the standard warmup. Order is drift-balanced per query (hi,
lo, lo, hi — medians per side), all four runs contiguous inside one box
interval.

Usage: python tools/core_scaling_probe.py [--hi 32] [--lo 8] query ...
Appends a markdown table to stdout; paste into SCALING.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.path.join(REPO, ".scaled", "sf1")


def run_one(q: str, cpus: int) -> float:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env.pop("SPARK_GRAFT_MASTER", None)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "measure.py"),
         SF1_DIR, q],
        capture_output=True, text=True, env=env,
    )
    recs = [json.loads(ln) for ln in out.stdout.splitlines()
            if ln.startswith("{")]
    if out.returncode == 0 and recs:
        return round(recs[0]["wall_s"], 2)
    raise RuntimeError(
        f"{q}@{cpus}: {recs or 'no record'}; stderr tail:\n"
        + "\n".join(out.stderr.splitlines()[-5:])
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hi", type=int, default=32)
    ap.add_argument("--lo", type=int, default=8)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(SF1_DIR, "lineitem.parquet")):
        subprocess.run(
            [sys.executable,
             os.path.join(REPO, "tools", "make_scaled_sf.py")],
            check=True,
        )
    rows = []
    for q in args.queries:
        t_start = time.strftime("%H:%M", time.gmtime())
        sides = {args.hi: [], args.lo: []}
        for cpus in (args.hi, args.lo, args.lo, args.hi):
            sides[cpus].append(run_one(q, cpus))
        iv = f"{t_start}-{time.strftime('%H:%M', time.gmtime())}Z"
        hi = statistics.median(sides[args.hi])
        lo = statistics.median(sides[args.lo])
        rows.append((q, hi, lo, lo / hi if hi > 0 else float("inf"), iv))
        print(f"# {q}: hi={sides[args.hi]} lo={sides[args.lo]}",
              file=sys.stderr, flush=True)
    print(f"| query | {args.hi}-core s | {args.lo}-core s | "
          f"ratio lo/hi | interval |")
    print("|---|---|---|---|---|")
    for q, hi, lo, r, iv in rows:
        print(f"| {q} | {hi:.2f} | {lo:.2f} | {r:.2f}x | {iv} |")
    print(json.dumps(
        {q: {"hi": hi, "lo": lo, "ratio": round(r, 2)}
         for q, hi, lo, r, _ in rows}))


if __name__ == "__main__":
    main()
