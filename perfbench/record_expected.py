#!/usr/bin/env python3
"""Record the catalog workload's expected outputs.

    python3 perfbench/record_expected.py

For every entry of `catalog_heavy` it records the row
count and content checksum the harness computes (two separate runs must
agree), then cross-checks each entry's output against
DuckDB running `SparkEntry.oracleSql` on the same tables, using the
stringify-and-sort rule of `tools/check.py`. It writes
`perfbench/expected/catalog_sf0.01.json` only if every entry agrees.
Run it on a commit whose outputs are known good; the benchmark then
compares every run against the file.
"""
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb

import run as bench

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def harness_checks(jvm, workload, attempt):
    work = os.path.join(bench.OUT, f"record-{workload}-{attempt}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = bench.launch(jvm, workload, bench.WARM[workload], 0, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res["checks"]


def spark_outputs(jvm, names, out):
    """Each entry's output as parquet, plus oracle_sql.json (graft.Verify)."""
    shutil.rmtree(out, ignore_errors=True)
    cmd = ["java", f"-Xmx{bench.JVM_HEAP}", *jvm[1:], "-cp", jvm[0],
           "graft.Verify", bench.DATA, out, ",".join(names)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL)


def oracle_diff(out, names):
    """Entries whose Spark output differs from the DuckDB oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{bench.DATA}/{t}.parquet'")
    oracle = json.loads(bench.read(os.path.join(out, "oracle_sql.json")))
    bad = {}
    for name in names:
        files = glob.glob(os.path.join(out, name, "*.parquet"))
        if name not in oracle or not files:
            bad[name] = "no oracle SQL or no Spark output"
            continue
        got_rel = con.sql(f"SELECT * FROM '{files[0]}'")
        got_cols = [d[0] for d in got_rel.description]
        got = got_rel.fetchall()
        exp_rel = con.sql(oracle[name])
        exp_cols = [d[0] for d in exp_rel.description]
        exp = exp_rel.fetchall()
        if sorted(got_cols) != sorted(exp_cols):
            bad[name] = f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
            continue
        gi = [got_cols.index(c) for c in sorted(got_cols)]
        ei = [exp_cols.index(c) for c in sorted(exp_cols)]
        g = sorted(tuple(str(r[i]) for i in gi) for r in got)
        e = sorted(tuple(str(r[i]) for i in ei) for r in exp)
        if g != e:
            bad[name] = f"{len(g)} rows differ from the oracle's {len(e)}"
    return bad


def main():
    jvm = bench.build()
    expected, problems = {}, []
    for workload in ("catalog_heavy",):
        a = harness_checks(jvm, workload, 1)
        b = harness_checks(jvm, workload, 2)
        for name in sorted(a):
            if "error" in a[name] or a[name] != b[name]:
                problems.append(f"{name}: {a[name]} vs {b[name]}")
            else:
                expected[name] = a[name]
    out = os.path.join(bench.OUT, "record-verify")
    spark_outputs(jvm, sorted(expected), out)
    for name, why in oracle_diff(out, sorted(expected)).items():
        problems.append(f"{name}: {why}")
    shutil.rmtree(out, ignore_errors=True)
    for name in sorted(expected):
        print(f"{name}: {expected[name]['rows']} rows, checksum {expected[name]['checksum']}")
    if problems:
        print("\n".join(["NOT RECORDED:"] + problems), file=sys.stderr)
        sys.exit(1)
    with open(bench.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(expected)} entries in {bench.EXPECTED}")


if __name__ == "__main__":
    main()
