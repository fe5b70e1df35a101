"""Synthesize a LOCAL sf1 dataset as a deterministic 10x scale-up of the
driver's sf0.1 parquet (round-6 VERDICT items 5+6).

The driver ships sf{0.001,0.01,0.1} only, and its documents table is the
SAME 500 rows at the two small SFs — so the text-family scaling curves
had no real denominator, and the 0.01->0.1 probes leave ~10x headroom
under the 15x gate where a super-linear term can hide. This tool builds
a true 10x step ABOVE sf0.1 for Spark-only probes
(tools/scale_sf1_probe.py); it is NOT driver testdata and is never used
by the oracle gate.

Construction (copy i in 0..9; copy 0 is sf0.1 verbatim):
- orders/lineitem/customer: keys shift by i*stride on BOTH sides of
  every FK edge that scales (orderkey, custkey), so joins replicate the
  original cardinality structure instead of fanning out; part/supplier
  FKs stay in range against the unscaled dims (TPC-H's fixed small
  dims). Dates/prices/statuses carry verbatim — group counts grow 10x,
  per-group distributions are preserved.
- events: event_id/user_id shift per copy (per-user activity structure
  replicates; the user population grows 10x, as a real 10x corpus
  would).
- documents: doc_id shifts AND every token in copies 1..9 is rewritten
  with a copy tag ("tok" -> "tok_i"). This is the load-bearing choice:
  byte-identical copies would add 45 cross-copy near-dup pairs per
  original doc (a ~10x-data -> ~45x-edges artifact that trips any
  scaling gate for construction reasons), while token-rewritten copies
  keep the near-dup graph an exact 10x replication of the original —
  and grow the n-gram vocabulary 10x, pushing the adaptive Jaccard
  dedup into its sparse (inverted-index) regime, which is the regime a
  real 10x corpus would be in.
- embeddings: vec_id shifts; each copy's vectors are deterministically
  perturbed (seeded per copy, +-1% before renormalization) so ANN
  probes see 10x distinct points, not 10-way distance ties.

Idempotent: skips tables whose output already exists. Output dir
defaults to <repo>/.scaled/sf1 (gitignored).

Usage: python tools/make_scaled_sf.py [--src /root/testdata/sf0.1]
                                      [--out <repo>/.scaled/sf1]
                                      [--copies 10]

``--copies 3`` builds an intermediate "sf0.3" for three-point scaling
curves (r8 verdict item 6: distinguish linear candidate growth from a
super-linear term needs more than one step).
"""

from __future__ import annotations

import argparse
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COPIES = 10  # default; overridden by --copies
ORDER_STRIDE = 10_000_000
CUST_STRIDE = 1_000_000
EVENT_STRIDE = 100_000_000
USER_STRIDE = 10_000_000
DOC_STRIDE = 1_000_000
VEC_STRIDE = 1_000_000

_TOKEN_RE = re.compile(r"[A-Za-z0-9]+")


def _shifted_copies(
    table: pa.Table, shifts: dict[str, int], copies: int
) -> list[pa.Table]:
    out = [table]
    df = table.to_pandas()
    for i in range(1, copies):
        c = df.copy()
        for col, stride in shifts.items():
            c[col] = c[col] + i * stride
        out.append(pa.Table.from_pandas(c, schema=table.schema, preserve_index=False))
    return out


def _write(tables: list[pa.Table], path: str) -> None:
    pq.write_table(pa.concat_tables(tables), path)


def _docs_copy(df, i: int):
    c = df.copy()
    c["doc_id"] = c["doc_id"] + i * DOC_STRIDE
    tag = f"_{i}"
    c["text"] = c["text"].map(
        lambda t: _TOKEN_RE.sub(lambda m: m.group(0) + tag, t)
    )
    c["n_chars"] = c["text"].map(len)
    return c


def _emb_copy(df, i: int):
    c = df.copy()
    c["vec_id"] = c["vec_id"] + i * VEC_STRIDE
    rng = np.random.default_rng(1000 + i)
    mats = np.stack(c["embedding"].map(np.asarray).to_numpy())
    noise = rng.uniform(-0.01, 0.01, size=mats.shape).astype(np.float32)
    mats = mats + noise
    norms = np.linalg.norm(mats, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    mats = (mats / norms).astype(np.float32)
    c["embedding"] = list(mats)
    return c


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scaled", "sf1",
    ))
    ap.add_argument("--copies", type=int, default=COPIES)
    args = ap.parse_args()
    copies = args.copies
    os.makedirs(args.out, exist_ok=True)

    # fixed dims: carry verbatim
    for t in ("region", "nation", "part", "supplier"):
        dst = os.path.join(args.out, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(os.path.join(args.src, f"{t}.parquet"), dst)

    plans = {
        "orders": {"o_orderkey": ORDER_STRIDE, "o_custkey": CUST_STRIDE},
        "lineitem": {"l_orderkey": ORDER_STRIDE},
        "customer": {"c_custkey": CUST_STRIDE},
        "events": {"event_id": EVENT_STRIDE, "user_id": USER_STRIDE},
    }
    for t, shifts in plans.items():
        dst = os.path.join(args.out, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        src = pq.read_table(os.path.join(args.src, f"{t}.parquet"))
        _write(_shifted_copies(src, shifts, copies), dst)
        print(f"wrote {t}: {src.num_rows} -> {src.num_rows * copies} rows")

    dst = os.path.join(args.out, "documents.parquet")
    if not os.path.exists(dst):
        src = pq.read_table(os.path.join(args.src, "documents.parquet"))
        df = src.to_pandas()
        parts = [src] + [
            pa.Table.from_pandas(_docs_copy(df, i), schema=src.schema,
                                 preserve_index=False)
            for i in range(1, copies)
        ]
        _write(parts, dst)
        print(f"wrote documents: {src.num_rows} -> {src.num_rows * copies} rows")

    dst = os.path.join(args.out, "embeddings.parquet")
    if not os.path.exists(dst):
        src = pq.read_table(os.path.join(args.src, "embeddings.parquet"))
        df = src.to_pandas()
        parts = [src] + [
            pa.Table.from_pandas(_emb_copy(df, i), schema=src.schema,
                                 preserve_index=False)
            for i in range(1, copies)
        ]
        _write(parts, dst)
        print(f"wrote embeddings: {src.num_rows} -> {src.num_rows * copies} rows")


if __name__ == "__main__":
    main()
