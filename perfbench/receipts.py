#!/usr/bin/env python3
"""Compare the Spark receipts of benchmark runs.

Usage, from the root of a checkout::

    python3 perfbench/receipts.py RUN_DIR [RUN_DIR ...]

Each RUN_DIR is a ``.bench_build/runs/<workload>-seed<n>-trace<t>`` directory.
For every call it prints the receipt of each run (jobs, stages, tasks,
shuffle bytes; counts that do not depend on the host window) and whether the
runs agree exactly, first within each run across its passes, then across the
runs. Runs of one seed should agree, on one commit; a change can cite the
difference between two commits as a count.
"""
import json
import pathlib
import sys

KEYS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def main(dirs):
    runs = [json.loads((pathlib.Path(d) / "artifact.json").read_text()) for d in dirs]
    calls = sorted({c for r in runs for c in r["receipts_repeat"]})
    agree = True
    for call in calls:
        rows = [r["receipts_repeat"].get(call) for r in runs]
        seen = [tuple(row["receipt"].get(k) for k in KEYS) if row else None for row in rows]
        same = len(set(seen)) == 1 and all(row and row["identical"] for row in rows)
        agree &= same
        print(f"{call:20s} {'same' if same else 'DIFFERENT'}")
        for d, row, counts in zip(dirs, rows, seen):
            passes = f"{row['passes']} passes, identical={row['identical']}" if row else "absent"
            print(f"    {dict(zip(KEYS, counts or ()))}  ({passes})  {d}")
    return 0 if agree else 1


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
