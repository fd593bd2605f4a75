#!/usr/bin/env python3
"""Compare two graft.Verify dumps by content, not by file bytes.

Usage: python3 tools/dump_diff.py <dumpA> <dumpB>

A dump is one directory per query holding the query's parquet part
files (graft.Verify writes one).  Two dumps match when they hold

  - the same query directories,
  - the same Arrow schema per query (names, types, nullability;
    schema metadata is ignored),
  - the same rows in the same order (NaN equals NaN).

Parquet bytes are not compared: two Verify runs of one build differ in
the footers' encoding lists.  Prints one line per difference and exits
1 if there is any, 0 if the dumps match, 2 on a usage error.
"""
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def queries(root):
    """Query name -> sorted parquet part files, for every subdirectory
    holding parquet files."""
    out = {}
    for name in sorted(os.listdir(root)):
        d = os.path.join(root, name)
        if not os.path.isdir(d):
            continue
        parts = sorted(f for f in os.listdir(d)
                       if f.endswith(".parquet") and not f.startswith((".", "_")))
        if parts:
            out[name] = [os.path.join(d, f) for f in parts]
    return out


def read(parts):
    """The parts concatenated in file-name order (the order Spark wrote
    them in), schema metadata dropped."""
    tables = [pq.read_table(p) for p in parts]
    t = pa.concat_tables(tables) if len(tables) > 1 else tables[0]
    return t.replace_schema_metadata(None)


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in v.items())
    return v


def fields(schema):
    return "(" + ", ".join(f"{f.name} {f.type}" + ("" if f.nullable else " not null")
                           for f in schema) + ")"


def diff_query(name, a_parts, b_parts):
    """Differences of one query, as printable lines."""
    a, b = read(a_parts), read(b_parts)
    if not a.schema.equals(b.schema):
        return [f"{name}: schema differs: {fields(a.schema)} vs {fields(b.schema)}"]
    if a.num_rows != b.num_rows:
        return [f"{name}: {a.num_rows} rows vs {b.num_rows}"]
    for i, (ra, rb) in enumerate(zip(a.to_pylist(), b.to_pylist())):
        if norm(ra) != norm(rb):
            return [f"{name}: row {i} differs: {ra} vs {rb}"]
    return []


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    qa, qb = queries(argv[1]), queries(argv[2])
    lines = [f"only in A: {n}" for n in sorted(qa.keys() - qb.keys())]
    lines += [f"only in B: {n}" for n in sorted(qb.keys() - qa.keys())]
    common = sorted(qa.keys() & qb.keys())
    for n in common:
        lines += diff_query(n, qa[n], qb[n])
    for ln in lines:
        print(ln)
    print(f"{len(common)} common queries, {len(lines)} difference(s)")
    return 1 if lines else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
