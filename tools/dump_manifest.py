#!/usr/bin/env python3
"""Fingerprint a graft.Verify output directory, or check it against a
committed fingerprint.

For each dumped query the manifest holds the row count, the column names
and types, and a SHA-256 of the rows in dumped order, each row written in
one canonical text form (floats by their shortest round-trip repr, bytes
in hex, timestamps in ISO form, structs and arrays nested). The oracle
SQL file `oracle_sql.json` is fingerprinted by its parsed content.

Usage:
  dump_manifest.py <verifyOut> [-o manifest.json]   write the manifest (default stdout)
  dump_manifest.py <verifyOut> --check manifest.json
      name every query whose rows, columns or hash moved, or that is
      missing from either side; exit 1 when any moved. With --dumped-only
      (a Verify run on named queries) only the dumped ones are checked.

The committed `tools/manifest_sf0.01.json` is the full sf0.01 Verify at
SPARK_GRAFT_CPUS=4 (a 2-core Verify gives the same manifest).
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq

ORACLE = "oracle_sql.json"


def canon(v):
    """One value as canonical text."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (decimal.Decimal, datetime.timedelta)):
        return str(v)
    if isinstance(v, dict):
        return "{" + ",".join(json.dumps(k) + ":" + canon(x) for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def fingerprint(path):
    """(rows, columns, sha256) of one dumped query directory."""
    table = pq.read_table(path)
    h = hashlib.sha256()
    for batch in table.to_batches():
        cols = [c.to_pylist() for c in batch.columns]
        for row in zip(*cols):
            h.update(("[" + ",".join(canon(v) for v in row) + "]\n").encode("utf-8"))
    return {
        "rows": table.num_rows,
        "columns": [[f.name, str(f.type)] for f in table.schema],
        "sha256": h.hexdigest(),
    }


def manifest(out_dir):
    m = {}
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if os.path.isdir(path):
            m[name] = fingerprint(path)
    oracle = os.path.join(out_dir, ORACLE)
    if os.path.exists(oracle):
        text = json.dumps(json.load(open(oracle)), sort_keys=True, ensure_ascii=False)
        m[ORACLE] = {"sha256": hashlib.sha256(text.encode("utf-8")).hexdigest()}
    return m


def dumps(m):
    """One query a line, so a diff of two manifests names the queries."""
    lines = [f"{json.dumps(k)}: {json.dumps(v, sort_keys=True)}" for k, v in sorted(m.items())]
    return "{\n" + ",\n".join(lines) + "\n}\n"


def check(m, want, dumped_only=False):
    if dumped_only:
        want = {k: v for k, v in want.items() if k in m}
    moved = []
    for name in sorted(set(m) | set(want)):
        if name not in m:
            moved.append((name, "not dumped"))
        elif name not in want:
            moved.append((name, "not in the manifest"))
        elif m[name] != want[name]:
            what = [k for k in ("rows", "columns", "sha256") if m[name].get(k) != want[name].get(k)]
            moved.append((name, " ".join(
                f"{k} {want[name].get(k)} -> {m[name].get(k)}" if k != "sha256" else "sha256"
                for k in what)))
    for name, why in moved:
        print(f"MOVED {name}: {why}")
    print(f"== {len(want)} in the manifest, {len(m)} dumped, {len(moved)} moved")
    return not moved


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("verify_out")
    ap.add_argument("-o", "--out", help="write the manifest here instead of stdout")
    ap.add_argument("--check", metavar="MANIFEST", help="compare against this manifest")
    ap.add_argument("--dumped-only", action="store_true",
                    help="with --check: ignore manifest queries that were not dumped")
    args = ap.parse_args()
    m = manifest(args.verify_out)
    if args.check:
        sys.exit(0 if check(m, json.load(open(args.check)), args.dumped_only) else 1)
    text = dumps(m)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)


if __name__ == "__main__":
    main()
