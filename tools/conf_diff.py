#!/usr/bin/env python3
"""List the benchmark run records whose session conf changed during the run.

Each record that benchmark/run.py writes under .bench_runs/ holds a
`conf_diff`: every session-conf key whose value at the end of the run
differs from its value at the start. Library code should write no session
conf, so the diff should be empty.

Usage:
  conf_diff.py [path ...]
      each path is a record (.json) or a directory of records (default:
      .bench_runs); prints workload, seed and conf_diff of every record
      with a non-empty diff, and exits 1 if there is one (2 if no
      record was found).
"""
import glob
import json
import os
import sys


def records(paths):
    for path in paths:
        if os.path.isdir(path):
            yield from sorted(glob.glob(os.path.join(path, "*.json")))
        else:
            yield path


def main():
    paths = sys.argv[1:] or [".bench_runs"]
    n = dirty = 0
    for path in records(paths):
        rec = json.load(open(path))
        n += 1
        if rec.get("conf_diff"):
            dirty += 1
            print(f"{rec.get('workload')} seed {rec.get('seed')} ({path}): "
                  f"{json.dumps(rec['conf_diff'], sort_keys=True)}")
    print(f"{dirty} of {n} records changed the session conf", file=sys.stderr)
    return 2 if n == 0 else 1 if dirty else 0


if __name__ == "__main__":
    sys.exit(main())
