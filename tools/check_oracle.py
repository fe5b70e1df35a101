"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row count, column names and an
order-insensitive value fingerprint (columns sorted by name, rows sorted by
their stringified tuple). Strict string equality per cell after a canonical
rendering, so any engine-level drift (decimal scale, float formatting,
timestamps) surfaces here before the driver sees it.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def canon(v) -> str:
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        # Render natively (scale-preserving). Collapsing to float here hid
        # exactly the decimal-vs-double drift the driver's hash is sensitive
        # to (round-1 driver-red on 3 queries that were locally green).
        return "dec:" + str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str, list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(canon(r[i]) for i in order) for r in rows
    )
    import hashlib

    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return len(rows), h, lines


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from _event_intelligence_data_warehouse_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # Regime-aware skips (r7 ADVICE): a few oracles pin a small-corpus
    # EXACT construction that the Spark query adaptively leaves above a
    # size threshold (exact kNN -> IVF, 16-cell SemDeDup -> sqrt-n
    # cells). Comparing the approximate regime against the exact-regime
    # oracle would report spurious failures — skip those queries, with
    # the reason, at any SF past their pinned regime. The driver's gate
    # runs at sf0.01, inside every pinned regime, so it never skips.
    from _event_intelligence_data_warehouse_spark.operators.similarity import (
        KNN_EXACT_MAX_VECTORS,
        SEM_FIXED_CELLS_MAX_VECTORS,
    )

    n_emb = con.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    regime_skips: dict[str, str] = {}
    if n_emb > KNN_EXACT_MAX_VECTORS:
        why = (
            f"{n_emb} embeddings > KNN_EXACT_MAX_VECTORS="
            f"{KNN_EXACT_MAX_VECTORS}: query runs the IVF regime, "
            "oracle pins the exact kNN graph"
        )
        regime_skips["similarity_knn_graph"] = why
        regime_skips["curation_pipeline_v5"] = why
    sem_corpus = n_emb + (n_emb + 9) // 10  # embeddings + every-10th copies
    if sem_corpus > SEM_FIXED_CELLS_MAX_VECTORS:
        sem_why = (
            f"{sem_corpus} sem-corpus vectors > "
            f"SEM_FIXED_CELLS_MAX_VECTORS={SEM_FIXED_CELLS_MAX_VECTORS}: "
            "query sizes cells ~sqrt(n), oracle pins 16 cells"
        )
        regime_skips["dedup_semantic"] = sem_why
        # same corpus (embeddings + every-10th perturbed copies), same
        # default n_cells=None inside sim.semantic_dedup — above the
        # threshold the recall audit runs sqrt-n cells while its oracle
        # CTE pins 16 (r8 ADVICE)
        regime_skips["dedup_semantic_recall"] = sem_why
    # DBSCAN corpus: embeddings + 1..4 satellites per every-10th vector
    # (contract/extension_queries._DB_VECS_SRC; ids assumed 0..n-1
    # contiguous like the other skips). Same adaptive sizing as
    # semantic_dedup: above the pinned regime the query runs sqrt-n
    # cells while the oracle CTE pins 16.
    db_corpus = n_emb + sum(1 + b % 4 for b in range((n_emb + 9) // 10))
    if db_corpus > SEM_FIXED_CELLS_MAX_VECTORS:
        regime_skips["similarity_dbscan_clusters"] = (
            f"{db_corpus} dbscan-corpus vectors > "
            f"SEM_FIXED_CELLS_MAX_VECTORS={SEM_FIXED_CELLS_MAX_VECTORS}: "
            "query sizes cells ~sqrt(n), oracle pins 16 cells"
        )
    # Incremental SemDeDup stored corpus: vec_id % 10 != 0 of the
    # contiguous 0..n-1 id space. Same adaptive sizing as
    # dedup_semantic (r10): above the pinned regime the stored
    # quantizer trains ~sqrt(n) cells while the oracle CTE pins 16.
    semi_corpus = n_emb - (n_emb + 9) // 10
    if semi_corpus > SEM_FIXED_CELLS_MAX_VECTORS:
        regime_skips["dedup_semantic_incremental"] = (
            f"{semi_corpus} stored-corpus vectors > "
            f"SEM_FIXED_CELLS_MAX_VECTORS={SEM_FIXED_CELLS_MAX_VECTORS}: "
            "query sizes cells ~sqrt(n), oracle pins 16 cells"
        )

    failures = []
    vacuous = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name in regime_skips:
            print(f"SKIP {name} (regime): {regime_skips[name]}")
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        finally:
            from _event_intelligence_data_warehouse_spark import cache

            cache.release_all()
        if name not in oracles:
            if not srows:
                vacuous.append(name)
            print(f"ok?  {name}: rows-only ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s) — no oracle")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            otypes = {
                r[0]: r[1]
                for r in con.execute("DESCRIBE " + oracles[name]).fetchall()
            }
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue

        # Type-parity audit. The driver's comparator goes through pandas,
        # where DuckDB HUGEINT (bare SUM of integers) lands as float64 while
        # Spark's bigint stays int64 -> value-hash mismatch the raw fetchall
        # path cannot see (round-1 driver-red trio). DECIMAL-vs-double is the
        # same trap via scale-preserving rendering.
        sdtypes = dict(sdf.dtypes)
        drift = []
        for c in scols:
            ot, st = otypes.get(c, ""), sdtypes.get(c, "")
            if ot in ("HUGEINT", "INT128", "UHUGEINT") and st != "double":
                drift.append(f"{c}: oracle {ot} vs spark {st} (CAST the SQL to BIGINT)")
            elif ot.startswith("DECIMAL") and not st.startswith("decimal"):
                drift.append(f"{c}: oracle {ot} vs spark {st} (CAST one side)")
            elif st.startswith("decimal") and not ot.startswith("DECIMAL"):
                drift.append(f"{c}: oracle {ot} vs spark {st} (CAST one side)")
            elif ot in ("FLOAT", "REAL") and st == "double":
                drift.append(f"{c}: oracle {ot} vs spark {st} (CAST to DOUBLE)")
        if drift:
            failures.append(name)
            print(f"FAIL {name}: type drift (driver-pandas-visible):")
            for d in drift:
                print(f"   {d}")
            continue

        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            continue
        sn, sh, sl = fingerprint(scols, srows)
        on, oh, ol = fingerprint(ocols, orows)
        if sn != on:
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={sn} oracle={on}")
        elif sh != oh:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sl, ol) if a != b][:3]
            print(f"FAIL {name}: value hash mismatch; first diffs:")
            for a, b in diff:
                print(f"   spark : {a[:220]}")
                print(f"   oracle: {b[:220]}")
        elif sn == 0:
            # Vacuity screen (round-6 VERDICT): two engines agreeing on
            # the EMPTY set verifies nothing about the query's
            # semantics. An empty-result oracle row is a defect in the
            # fixture, not a pass — restrict or plant data until the
            # expected result is provably non-empty.
            vacuous.append(name)
            print(f"VACUOUS {name}: both engines returned 0 rows "
                  f"({time.time()-t0:.1f}s) — fixture proves nothing")
        else:
            print(f"PASS {name} ({sn} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures / {len(queries) if not only else len(only)} checked"
          + (f"; {len(vacuous)} VACUOUS: {sorted(vacuous)}" if vacuous else "; 0 vacuous"))
    return 1 if failures or vacuous else 0


if __name__ == "__main__":
    raise SystemExit(main())
