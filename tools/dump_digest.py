#!/usr/bin/env python3
"""Per-query result digests of a `graft.Verify` output directory.

    python3 tools/dump_digest.py OUTDIR           # one digest per query
    python3 tools/dump_digest.py OUTDIR_A OUTDIR_B  # ids whose digests differ

A digest is the SHA-256 of the query's schema (column names and Arrow
types, columns in name order) followed by its rows, each rendered
canonically (floats exactly, via float.hex) and sorted, so it does not
depend on row order or on the part-file layout of the dump. Every dumped
query is covered, the rows-only ones included (`local_verify.py` only
row-counts those).

Single-directory mode prints `<digest> <rows> <id>` per query. The
two-directory mode prints one line per id that differs (digest, or
present in one dump only) and a summary; it exits 1 if any id differs.
"""
import datetime
import decimal
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq


def canon(v):
    """A deterministic text rendering of one Arrow cell value."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (int, decimal.Decimal)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return json.dumps(v) if isinstance(v, str) else repr(v)


def digest(qdir):
    """(sha256 hex, row count) of one query's dump directory."""
    table = pq.read_table(qdir)
    table = table.select(sorted(table.column_names))
    h = hashlib.sha256()
    h.update(";".join(f"{f.name}:{f.type}" for f in table.schema).encode())
    cols = [table.column(n).to_pylist() for n in table.column_names]
    rows = sorted("\x1f".join(canon(c[i]) for c in cols) for i in range(table.num_rows))
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest(), table.num_rows


def digests(outdir):
    """{query id: (digest, rows)} for every query directory in a dump."""
    out = {}
    for name in sorted(os.listdir(outdir)):
        qdir = os.path.join(outdir, name)
        if os.path.isdir(qdir):
            out[name] = digest(qdir)
    return out


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a = digests(argv[1])
    if len(argv) == 2:
        for name, (d, n) in a.items():
            print(f"{d} {n} {name}")
        return 0
    b = digests(argv[2])
    same = differ = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            where = argv[1] if name in a else argv[2]
            print(f"{name}: only in {where}")
        elif a[name][0] != b[name][0]:
            print(f"{name}: rows {a[name][1]} vs {b[name][1]}, digest differs")
        else:
            same += 1
            continue
        differ += 1
    print(f"{same} identical, {differ} differ ({len(a)} vs {len(b)} queries)")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
