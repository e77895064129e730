#!/usr/bin/env python3
"""Cross-check the query_first answers against the DuckDB oracle.

Usage (from the repository root): python3 perfbench/tools/crosscheck.py

Writes each sampled query's Spark result to parquet with the library's
own graft.Verify main, runs the query's SparkEntry.oracleSql twin in
DuckDB over the same fixtures, and compares row count, column names and
types, and every value (floats bitwise). The verdicts go to
perfbench/expected/crosscheck.json. The digests in digests.json are
hashes of these same answers, so a clean cross-check vouches for them.
"""
import json
import math
import os
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def same_type(a, b):
    """Type equality that ignores the field name of list items."""
    import pyarrow as pa
    if pa.types.is_list(a) and pa.types.is_list(b):
        return same_type(a.value_type, b.value_type)
    return str(a) == str(b)


def compare(spark, oracle):
    cols = sorted(spark.column_names)
    if cols != sorted(oracle.column_names):
        return f"columns {cols} != {sorted(oracle.column_names)}"
    if spark.num_rows != oracle.num_rows:
        return f"rows {spark.num_rows} != {oracle.num_rows}"
    spark, oracle = spark.select(cols), oracle.select(cols)
    for c in cols:
        a, b = spark.schema.field(c).type, oracle.schema.field(c).type
        if not same_type(a, b):
            return f"type of {c}: {a} != {b}"
    for i, (x, y) in enumerate(zip(spark.to_pylist(), oracle.to_pylist())):
        for c in cols:
            u, v = x[c], y[c]
            if isinstance(u, float) and isinstance(v, float) and math.isnan(u) and math.isnan(v):
                continue
            if u != v:
                return f"row {i} column {c}: {u!r} != {v!r}"
    return None


def main():
    cp = run.build()
    queries = run.workload_queries("query_first")
    out = os.path.join(run.build_dir(), "crosscheck")
    subprocess.run(["java"] + [x for p in run.ADD_OPENS
                               for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
                   + ["-Xmx3g", "-Duser.timezone=UTC", "-cp", cp, "graft.Verify", run.DATA, out]
                   + queries, check=True, cwd=run.build_dir())
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA}/{t}.parquet')")
    with open(run.EXPECTED) as f:
        digests = json.load(f)["digests"]
    verdicts = {}
    for q in queries:
        try:
            oracle = con.execute(oracle_sql[q]).arrow()
            verdicts[q] = compare(pq.read_table(os.path.join(out, q)), oracle) or "ok"
            rows = int(digests[q].split(":")[0])
            if verdicts[q] == "ok" and rows != oracle.num_rows:
                verdicts[q] = f"digest has {rows} rows, oracle {oracle.num_rows}"
        except Exception as e:  # an oracle or read error is a failed check
            verdicts[q] = f"error: {e}"
        print(f"{q}: {verdicts[q]}")
    with open(os.path.join(run.HERE, "expected", "crosscheck.json"), "w") as f:
        json.dump({"duckdb": duckdb.__version__, "pyarrow": __import__("pyarrow").__version__,
                   "scale": "sf0.1", "verdicts": verdicts}, f, indent=1)
        f.write("\n")
    bad = [q for q, v in verdicts.items() if v != "ok"]
    print(f"{len(queries) - len(bad)} ok, {len(bad)} differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
