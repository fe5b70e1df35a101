"""Vanilla-session replay (r7 VERDICT item 7).

The driver runs queries under a VANILLA SparkSession — none of
``session.get_spark``'s configs (UTC pin, shuffle partitions, AQE
toggles) are present, so any query that silently depends on them
passes the local gate (which boots through get_spark) and fails on the
driver. Round 7 replayed the head-50 that way; this tool extends the
screen to the TAIL: a deterministic 25-query sample of the NON-head
registry, re-seeded per round, so config-sensitivity bugs can't hide
in the 200+ queries the driver never samples.

Each query runs on the vanilla session AND its DuckDB oracle runs on
the same parquet; row count + column set + order-insensitive value
fingerprint must match (same comparator as tools/check_oracle.py).

Usage:
    python tools/vanilla_replay.py [sf_dir] [--sample N] [--seed S]
    python tools/vanilla_replay.py [sf_dir] --head        # the head-50
    python tools/vanilla_replay.py [sf_dir] name [name..] # explicit

Writes a JSON log line per query to stdout and a summary; exit 1 on
any failure or any vacuous (both-empty) row.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from check_oracle import TABLES, fingerprint  # noqa: E402


def vanilla_spark():
    """The driver's session shape: bare builder, no repo configs."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[8]")
        .appName("vanilla-replay")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def pick_sample(names: list[str], head: list[str], n: int, seed: int) -> list[str]:
    """Deterministic md5-ordered sample of the NON-head registry —
    stable across hosts, rotates with the seed (use the round number)."""
    tail = [q for q in names if q not in set(head)]
    return sorted(
        tail, key=lambda q: hashlib.md5(f"{seed}:{q}".encode()).hexdigest()
    )[:n]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sample", type=int, default=25)
    ap.add_argument("--seed", type=int, default=8)
    ap.add_argument("--head", action="store_true")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    all_names = list(queries)
    if args.names:
        names = args.names
    elif args.head:
        names = all_names[:50]
    else:
        names = pick_sample(all_names, all_names[:50], args.sample, args.seed)

    spark = vanilla_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    failures, vacuous, log = [], [], {}
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            failures.append(name)
            log[name] = {"status": "spark-error", "err": str(exc)[:300]}
            print(f"FAIL {name}: spark error: {exc}")
            continue
        finally:
            from _event_intelligence_data_warehouse_spark import cache

            cache.release_all()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:
            failures.append(name)
            log[name] = {"status": "oracle-error", "err": str(exc)[:300]}
            print(f"FAIL {name}: oracle error: {exc}")
            continue
        sn, sh, _ = fingerprint(scols, srows)
        on, oh, _ = fingerprint(ocols, orows)
        ok = sorted(scols) == sorted(ocols) and sn == on and sh == oh
        dt = round(time.time() - t0, 1)
        if not ok:
            failures.append(name)
            log[name] = {"status": "mismatch", "spark_rows": sn, "oracle_rows": on}
            print(f"FAIL {name}: rows {sn} vs {on}, hash "
                  f"{'match' if sh == oh else 'MISMATCH'}")
        elif sn == 0:
            vacuous.append(name)
            log[name] = {"status": "vacuous"}
            print(f"FAIL {name}: vacuous (both engines empty)")
        else:
            log[name] = {"status": "pass", "rows": sn, "sec": dt}
            print(f"PASS {name} ({sn} rows, {dt}s)")

    print(json.dumps({
        "replayed": len(names), "failures": failures, "vacuous": vacuous,
        "seed": args.seed, "sf_dir": args.sf_dir,
    }))
    print(f"\n{len(failures)} failures / {len(names)} replayed; "
          f"{len(vacuous)} vacuous")
    return 1 if failures or vacuous else 0


if __name__ == "__main__":
    raise SystemExit(main())
