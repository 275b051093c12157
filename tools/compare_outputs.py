#!/usr/bin/env python3
"""Compares two `graft.Verify` output dirs query by query.

Usage: python3 tools/compare_outputs.py <outDirA> <outDirB>

A query is identical when both sides have the same columns (names,
order and types), the same row count and the same rows as a multiset:
row order is ignored, and floats compare exactly (bit for bit, so
-0.0 differs from 0.0 and NaN equals NaN). Every query that differs or
exists on one side only is named. Exits 0 when every query is
identical, 1 otherwise. A refactor that must not change any output
runs Verify on the commits before and after it and gates on this.
"""
import collections
import glob
import os
import sys

import pyarrow.parquet as pq


def canon(v):
    """A hashable, exactly comparable form of one parquet cell."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        return ("float", v.hex())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("struct", tuple((k, canon(x)) for k, x in v.items()))
    return (type(v).__name__, repr(v))


def queries(out_dir):
    return {os.path.basename(d): d for d in glob.glob(os.path.join(out_dir, "q*"))
            if os.path.isdir(d)}


def diff(a_dir, b_dir):
    """None when the two query outputs are identical, else why not."""
    a, b = pq.read_table(a_dir), pq.read_table(b_dir)
    a_cols = [(f.name, str(f.type)) for f in a.schema]
    b_cols = [(f.name, str(f.type)) for f in b.schema]
    if a_cols != b_cols:
        return f"columns {a_cols} vs {b_cols}"
    if a.num_rows != b.num_rows:
        return f"row count {a.num_rows} vs {b.num_rows}"
    shown = {}
    def counts(table):
        c = collections.Counter()
        for r in table.to_pylist():
            key = canon(list(r.values()))
            shown.setdefault(key, r)
            c[key] += 1
        return c
    rows_a, rows_b = counts(a), counts(b)
    if rows_a != rows_b:
        only_a = rows_a - rows_b
        only_b = rows_b - rows_a
        return (f"{sum(only_a.values())} rows only in A, {sum(only_b.values())} "
                f"only in B (e.g. A has {shown[next(iter(only_a))]})")
    return None


def main(a_out, b_out):
    qa, qb = queries(a_out), queries(b_out)
    bad = 0
    for name in sorted(qa.keys() | qb.keys()):
        if name not in qb:
            print(f"X {name}: only in A")
        elif name not in qa:
            print(f"X {name}: only in B")
        else:
            why = diff(qa[name], qb[name])
            if why is None:
                continue
            print(f"X {name}: {why}")
        bad += 1
    print(f"compared {len(qa.keys() | qb.keys())} queries: {bad} differ or are missing")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
