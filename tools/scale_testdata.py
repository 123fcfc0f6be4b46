"""Build a KX perf-validation scale-up of an sf testdata dir.

Usage: python tools/scale_testdata.py <src_sf_dir> <out_dir> [K=10]

PERF VALIDATION ONLY (never an oracle input): the driver's round-end
measurement runs at a larger driver-generated scale factor than the local
sf0.1, so optimizations must be validated at that scale too. This tool
makes K disjoint copies of every table with per-copy key offsets:

- documents: doc_id offset; every WORD of a copy>0 text gets a "qz<k>"
  suffix. The suffix is alphanumeric, so it survives the [^a-z0-9 ]
  normalization of dedup_exact_normalized, and copies are disjoint in
  shingle/hash space and under that normalization (a base word would have
  to end in "qz" plus digits itself to collide) — each copy
  reproduces sf0.1's intra-copy dup/near-dup structure exactly and no
  cross-copy pairs exist (pair counts scale linearly, the way
  within-source dup mass scales in a real larger corpus).
- embeddings: vec_id offset; element 0 shifted by 10*k so copies land in
  disjoint LSH/k-means/PQ regions (query side vec_id < N_QUERIES stays
  copy-0 — fixed query set against a K-times corpus, the real serving
  shape). Values stay float32; the 1e4-scaled exact-int kernels remain
  inside their 2^53 budgets at the shifted magnitudes.
- relational tables: key offsets per copy (orderkey/custkey/partkey/
  suppkey/event_id/user_id); nation/region dims stay as-is.

Each output table is one file written with the DEFAULT parquet
row-group size — exactly how the driver's testdata behaves (tables under
~1M rows land in one row group and exercise scan_fanout; the sf1.0
lineitem splits into ~6 native row groups, observed in round 8).
"""
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFF = {
    "doc_id": 10**7,
    "vec_id": 10**7,
    "l_orderkey": 10**8,
    "o_orderkey": 10**8,
    "l_partkey": 10**6,
    "p_partkey": 10**6,
    "l_suppkey": 10**4,
    "s_suppkey": 10**4,
    "o_custkey": 10**6,
    "c_custkey": 10**6,
    "event_id": 10**8,
    "user_id": 10**7,
}

PASSTHROUGH = ("nation", "region")


def scale_table(name: str, src: str, out: str, k_copies: int) -> None:
    t = pq.read_table(os.path.join(src, f"{name}.parquet"))
    if name in PASSTHROUGH:
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
        return
    copies = []
    for k in range(k_copies):
        cols = []
        for field, col in zip(t.schema, t.columns):
            if field.name in OFF and k > 0:
                col = pc.add(col, pa.scalar(k * OFF[field.name], type=field.type))
            elif name == "documents" and field.name == "text" and k > 0:
                suf = f"qz{k}"
                col = pa.array(
                    [" ".join(w + suf for w in s.split(" ")) for s in col.to_pylist()],
                    type=pa.string(),
                )
            elif name == "embeddings" and field.name == "embedding" and k > 0:
                shifted = []
                for v in col.to_pylist():
                    v = list(v)
                    v[0] += 10.0 * k
                    shifted.append(v)
                col = pa.array(shifted, type=field.type)
            cols.append(col)
        copies.append(pa.table(cols, schema=t.schema))
    big = pa.concat_tables(copies)
    pq.write_table(big, os.path.join(out, f"{name}.parquet"))


def main() -> None:
    src, out = sys.argv[1], sys.argv[2]
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(out, exist_ok=True)
    for p in sorted(os.listdir(src)):
        if not p.endswith(".parquet"):
            continue
        name = p[: -len(".parquet")]
        scale_table(name, src, out, k)
        f = pq.ParquetFile(os.path.join(out, p))
        print(name, f.metadata.num_rows, "rg:", f.metadata.num_row_groups, flush=True)


if __name__ == "__main__":
    main()
