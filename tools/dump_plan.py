"""Dump .explain("formatted") for named queries into a directory.

Usage: python tools/dump_plan.py <out_dir> before|after query [query ...]

Writes <out_dir>/<query>_<tag>.txt with the FORMATTED physical plan of
the DataFrame the contract query returns (the driver-checked result
frame). Queries whose construction runs eager work (adaptive counts,
export writes) pay it here too — the dump reflects exactly what the
bench times. sf dir: $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1.

A before/after pair runs each checkout's own tools/dump_plan.py into
the same out_dir.
"""

import os
import sys

if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
    sys.exit(__doc__)

import measure  # noqa: E402
from _event_intelligence_data_warehouse_spark import cache  # noqa: E402
from _event_intelligence_data_warehouse_spark.contract import QUERIES  # noqa: E402

out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
os.makedirs(out_dir, exist_ok=True)

spark = measure.session("eidw-plan-dump")
for name in names:
    df = QUERIES[name](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    path = os.path.join(out_dir, f"{name}_{tag}.txt")
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({len(plan)} chars, "
          f"{plan.count('Exchange')} Exchange)", flush=True)
    cache.release_all()
spark.stop()
