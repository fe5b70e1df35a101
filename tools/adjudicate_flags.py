#!/usr/bin/env python
"""Order-balanced same-box worktree A/B for bench regression flags.

The repo's standing rule (bench.py round-10/11 notes): a >20% per-query
bench flag is treated as NON-code ONLY after an order-balanced paired
A/B on the same box reproduces (or refutes) it code-vs-code. Rounds 10
AND 11 both left post-close driver flags unadjudicated until the next
round because the protocol was manual; this tool makes it one command —
run it the moment flags appear (r11 verdict item 2's "automate the
post-driver-run adjudication pass").

Protocol (matches the r11/r12 adjudications exactly):
  - two git worktrees in /tmp pinned at the two commits;
  - an isolated SPARK_GRAFT_BENCH_ONLY subset of exactly the flagged
    queries (plus bench.py's fixed warmup), full bench harness;
  - N pairs (default 4), ALTERNATING which side runs first;
  - verdict per query from side medians: CODE if |delta| > threshold
    (default 20%) in the flagged direction, else NON-code.

Usage:
  python tools/adjudicate_flags.py --old <commit> --new <commit> \
      [--pairs 4] [--threshold 20] query [query ...]

Prints a JSON verdict block and a ready-to-paste round-notes table.
Exit 0 = all NON-code; exit 2 = at least one CODE verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_side(workdir: str, queries: list[str], sf_dir: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(queries)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=workdir, env=env, capture_output=True, text=True,
    )
    line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
    try:
        rec = json.loads(line)
    except json.JSONDecodeError:
        raise RuntimeError(
            f"bench in {workdir} produced no JSON line; stderr tail:\n"
            + "\n".join(out.stderr.splitlines()[-5:])
        )
    # the printed record merges the local full record; keep only the
    # queries this subset actually re-measured
    return {q: rec["queries"][q] for q in queries if q in rec["queries"]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old", required=True,
                    help="reference commit (e.g. last round's)")
    ap.add_argument("--new", default="HEAD")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--threshold", type=float, default=20.0,
                    help="median delta %% above which the flag is CODE")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    stamp = int(time.time())
    trees = {}
    for side, ref in (("old", args.old), ("new", args.new)):
        path = os.path.join(
            tempfile.gettempdir(), f"adjudicate_{side}_{stamp}"
        )
        subprocess.run(
            ["git", "worktree", "add", "--detach", path, ref],
            cwd=REPO, check=True, capture_output=True,
        )
        trees[side] = path

    samples: dict[str, dict[str, list[float]]] = {
        q: {"old": [], "new": []} for q in args.queries
    }
    try:
        for pair in range(args.pairs):
            order = (
                ("new", "old") if pair % 2 == 0 else ("old", "new")
            )
            for side in order:
                got = _run_side(trees[side], args.queries, args.sf_dir)
                for q, v in got.items():
                    samples[q][side].append(v)
                print(
                    f"pair {pair + 1} {side}: "
                    + json.dumps({q: round(v, 2) for q, v in got.items()}),
                    file=sys.stderr,
                )
    finally:
        for path in trees.values():
            subprocess.run(
                ["git", "worktree", "remove", "--force", path],
                cwd=REPO, capture_output=True,
            )

    verdicts = {}
    rows = []
    for q in args.queries:
        old_v, new_v = samples[q]["old"], samples[q]["new"]
        if not old_v or not new_v:
            verdicts[q] = {"verdict": "ERROR", "reason": "missing side"}
            continue
        mo, mn = statistics.median(old_v), statistics.median(new_v)
        delta = 100.0 * (mn - mo) / mo if mo > 0 else float("inf")
        code = delta > args.threshold
        verdicts[q] = {
            "old_median": round(mo, 2),
            "new_median": round(mn, 2),
            "delta_pct": round(delta, 1),
            "old_runs": [round(v, 2) for v in old_v],
            "new_runs": [round(v, 2) for v in new_v],
            "verdict": "CODE" if code else "NON-code",
        }
        rows.append(
            f"  {q}: {mo:.2f} vs {mn:.2f} s ({delta:+.1f}%) -> "
            f"{'CODE' if code else 'NON-code'}"
        )
    print(json.dumps({
        "protocol": {
            "old": args.old, "new": args.new, "pairs": args.pairs,
            "threshold_pct": args.threshold, "sf_dir": args.sf_dir,
            "order": "alternating first-runner",
        },
        "verdicts": verdicts,
    }))
    print("round-notes table:\n" + "\n".join(rows), file=sys.stderr)
    return 2 if any(
        v.get("verdict") == "CODE" for v in verdicts.values()
    ) else 0


if __name__ == "__main__":
    raise SystemExit(main())
