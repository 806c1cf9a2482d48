"""Measurement-only sf-scaler (round 9): builds an sf1-equivalent
directory by replicating /root/testdata/sf0.1 K times with consistent
key offsets, so the driver's escalated-sf query phase (BENCH_r08 ran at
sf=1.0) can be approximated locally.  NEVER used by declared queries or
bench.py — purely a local input for `SPARK_GRAFT_SF_DIR=... python
bench_extra.py`.  /root/testdata itself is read-only and untouched.

Replication rules:
- key columns get +i*stride per replica i (stride = max(key)+1 of the
  base table, same stride on both sides of every join, so each replica
  joins only with itself — join output cardinality scales linearly
  like a real bigger sf).
- documents.text: in replica i>0 every token AFTER the first gets an
  `i` prefix (space -> " i"). The first token of each document is not
  tagged, so that token, and every character shingle inside it, is
  shared with the base copy: token and shingle sets are nearly, not
  fully, disjoint across replicas. Near-dup structure per replica
  stays close to sf0.1 and scales about linearly, instead of every doc
  acquiring 9 artificial twins.
- nation/region are fixed dimension tables, copied once.

Usage: python bench_sfgen.py [K] [outdir]   (default 10 /tmp/sf1x)
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = "/root/testdata/sf0.1"

KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def scale(name: str, k: int, outdir: str) -> None:
    t = pq.read_table(f"{BASE}/{name}.parquet")
    strides = {c: int(pc.max(t.column(c)).as_py()) + 1 for c in KEYS[name]}
    reps = []
    for i in range(k):
        cols = {}
        for c in t.schema.names:
            col = t.column(c)
            if c in strides and i > 0:
                col = pc.add(col, i * strides[c])
            elif name == "documents" and c == "text" and i > 0:
                # tags every token but the first (see the docstring)
                col = pc.replace_substring(col, " ", f" {i}")
            cols[c] = col
        reps.append(pa.table(cols, schema=pa.table(cols).schema))
    out = pa.concat_tables(reps).combine_chunks()
    # cast keys back to the base dtypes (pc.add may widen)
    out = out.cast(t.schema)
    # default ~1M-row row groups: matches the observed driver layout
    # (sf0.1's 600k-row lineitem is ONE group => writer default), so a
    # 6M-row lineitem splits into 6 groups like a driver-generated sf1
    pq.write_table(out, f"{outdir}/{name}.parquet", compression="snappy")
    print(f"{name:12s} {t.num_rows:>9,} -> {out.num_rows:>10,} rows")


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1x"
    os.makedirs(outdir, exist_ok=True)
    for name in KEYS:
        scale(name, k, outdir)
    for name in ("nation", "region"):
        t = pq.read_table(f"{BASE}/{name}.parquet")
        pq.write_table(t, f"{outdir}/{name}.parquet", compression="snappy")
        print(f"{name:12s} {t.num_rows:>9,} rows (copied)")


if __name__ == "__main__":
    main()
