#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the stored answers of the output check.

    python3 perfbench/make_expected.py

For every op of every workload it runs the driver's untimed pass once and
keeps the outputs. Oracle-backed ops are answered by DuckDB over
perfbench/data with the oracle SQL the library registers
(`SparkEntry.oracleSql`); the stored digest is DuckDB's, and the script
refuses to write the file when Spark's output does not match it.
Spec-class ops record the row count and schema of Spark's output.
Run it only when the data or the op lists change."""

import glob
import json
import os
import shutil
import sys
import time

import duckdb

import run as bench
import correctness


def oracle_frame(sql):
    con = duckdb.connect()
    try:
        for f in glob.glob(str(bench.HERE / "data" / "*.parquet")):
            t = os.path.basename(f)[: -len(".parquet")]
            con.sql(f"create view {t} as select * from read_parquet('{f}')")
        return con.sql(sql).df()
    finally:
        con.close()


def main():
    classpath = bench.build(time.monotonic() + bench.BUILD_LIMIT_S)
    work = bench.HERE / ".work" / "expected"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    bench.run_jvm(classpath, work, ["--dump-oracle"], time.monotonic() + 120)
    oracle = json.loads((work / "raw.json").read_text())
    expected, mismatched = {}, []
    for wl in bench.WORKLOADS:
        wdir = work / wl
        run = bench.run_jvm(classpath, wdir, [
            "--workload", wl, "--seed", "1", "--seconds", "0.001", "--trace", "0",
            "--setups", "1"], time.monotonic() + 600)
        for op in run["check"]["ops"]:
            name = op["op"]
            if name.startswith("store."):
                continue
            if not op["ok"]:
                sys.exit(f"{name} failed: {op['error']}")
            out = wdir / "out" / name
            if name in oracle:
                rows, digest = correctness.frame_digest(oracle_frame(oracle[name]))
                expected[name] = {"kind": "oracle", "rows": rows, "digest": digest}
                if correctness.check_op(out, expected[name]):
                    mismatched.append(name)
            else:
                expected[name] = correctness.describe(out, oracle=False)
            print(name, expected[name]["kind"], expected[name]["rows"])
    if mismatched:
        sys.exit(f"Spark output differs from the oracle for: {', '.join(mismatched)}")
    (bench.HERE / "expected.json").write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
