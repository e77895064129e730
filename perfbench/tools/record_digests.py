#!/usr/bin/env python3
"""Record the expected result digest of every query_first query.

Usage (from the repository root): python3 perfbench/tools/record_digests.py

Runs the query_first sample twice, with two seeds (so two query orders),
requires both runs to give the same digest for every query, and writes
perfbench/expected/digests.json. Run it on a commit whose answers are
known to be right (see crosscheck.py), never to make a failing run pass.
"""
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

cp = run.build()
seen = []
for seed in (1, 2):
    res = run.jvm_ok(run.run_jvm(cp, "query_first", seed, 0, ["plain"], 1, "digests",
                                 time.time() + 600))
    ops = res["phases"][0]["ops"]
    bad = [op for op in ops if not op["ok"]]
    if bad:
        sys.exit(f"failed queries: {[op['name'] for op in bad]}")
    seen.append({op["name"]: op["digest"] for op in ops})
if seen[0] != seen[1]:
    diff = sorted(q for q in seen[0] if seen[0][q] != seen[1].get(q))
    sys.exit(f"digests differ between query orders: {diff}")
commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=run.ROOT,
                        capture_output=True, text=True).stdout.strip()
with open(run.EXPECTED, "w") as f:
    json.dump({"scale": "sf0.1", "recorded_at_commit": commit,
               "format": "rows:sha256 of the canonical rows in result order",
               "digests": dict(sorted(seen[0].items()))}, f, indent=1)
    f.write("\n")
print(f"wrote {len(seen[0])} digests to {run.EXPECTED}")
