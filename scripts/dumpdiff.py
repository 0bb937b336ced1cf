#!/usr/bin/env python3
"""Compare two graft.Verify output dirs row by row.

Usage: python3 scripts/dumpdiff.py <outA> <outB>

Checks that both dirs hold the same set of row dumps and an equal parsed
oracle_sql.json, and that each row's parquet dump has the same Arrow
schema (field names, types, nullability, field metadata and the schema
metadata Spark writes), the same number of rows and the same values in
the same order. Prints every difference and exits 1 if there is one;
prints one summary line and exits 0 otherwise.
"""
import json
import math
import os
import sys

import pyarrow.parquet as pq


def rows(out):
    return {n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n))}


def same_value(a, b):
    """Equality that takes NaN as equal to NaN, at any depth."""
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(same_value, a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_value(a[k], b[k]) for k in a)
    return a == b


def schema_diffs(sa, sb):
    out = []
    if sa.names != sb.names:
        return [f"columns {sa.names} vs {sb.names}"]
    for fa, fb in zip(sa, sb):
        # nested fields' nullability and metadata are part of the type
        if not fa.type.equals(fb.type, check_metadata=True):
            out.append(f"column {fa.name}: type {fa.type} vs {fb.type}")
        if fa.nullable != fb.nullable:
            out.append(f"column {fa.name}: nullable {fa.nullable} vs {fb.nullable}")
        if fa.metadata != fb.metadata:
            out.append(f"column {fa.name}: metadata {fa.metadata} vs {fb.metadata}")
    if sa.metadata != sb.metadata:
        out.append(f"schema metadata {sa.metadata} vs {sb.metadata}")
    return out


def value_diffs(ta, tb):
    if ta.num_rows != tb.num_rows:
        return [f"{ta.num_rows} rows vs {tb.num_rows}"]
    out = []
    for name in ta.column_names:
        ca, cb = ta.column(name), tb.column(name)
        if ca.equals(cb):
            continue
        va, vb = ca.to_pylist(), cb.to_pylist()
        bad = [i for i, (x, y) in enumerate(zip(va, vb)) if not same_value(x, y)]
        if bad:
            i = bad[0]
            out.append(f"column {name}: {len(bad)} rows differ, first at row "
                       f"{i}: {va[i]!r} vs {vb[i]!r}")
    return out


def diff(a, b):
    out = []
    with open(os.path.join(a, "oracle_sql.json")) as fa, \
            open(os.path.join(b, "oracle_sql.json")) as fb:
        oa, ob = json.load(fa), json.load(fb)
    for k in sorted(oa.keys() | ob.keys()):
        if oa.get(k) != ob.get(k):
            out.append(f"oracle_sql.json {k}: {oa.get(k)!r} vs {ob.get(k)!r}")
    ra, rb = rows(a), rows(b)
    out += [f"{n}: only in {a}" for n in sorted(ra - rb)]
    out += [f"{n}: only in {b}" for n in sorted(rb - ra)]
    for n in sorted(ra & rb):
        ta = pq.read_table(os.path.join(a, n))
        tb = pq.read_table(os.path.join(b, n))
        found = schema_diffs(ta.schema, tb.schema)
        if ta.column_names == tb.column_names:
            found += value_diffs(ta, tb)
        out += [f"{n}: {d}" for d in found]
    return out, len(ra & rb)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    found, n = diff(sys.argv[1], sys.argv[2])
    for d in found:
        print(d)
    if found:
        print(f"{len(found)} difference(s)")
        sys.exit(1)
    print(f"no difference over {n} rows")


if __name__ == "__main__":
    main()
