#!/usr/bin/env python3
"""Cross-check the pinned analytics results against DuckDB.

    python3 perfbench/crosscheck.py

Run from the repository root after a build (`perfbench/run.py --selftest`
builds). It generates the analytics tables (tables.py), dumps every mix
key's Spark output with `graft.Verify`, compares each key that has an
oracle against `SparkEntry.oracleSql` in DuckDB with
`tools/check_correctness.py`, and recomputes every key's (rows, hash) from
the dumped parquet with `run.key_result`. Exit 0 when every oracle matches
and every recomputed value equals pinned.tsv.
"""
import os
import shutil
import subprocess
import sys

import run
import tables


def main():
    work = os.path.join(run.WORK, "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "tables"), os.path.join(work, "out")
    tables.write(data)
    pins = run.read_pinned()
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(sorted(pins)),
               SPARK_GRAFT_CPUS=str(os.cpu_count()))
    cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx4g", "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.ui.enabled=false", "-cp", f"{run.CLASSES}{os.pathsep}{run.spark_jars()}/*",
        "graft.Verify", data, out]
    subprocess.run(cmd, check=True, cwd=work, env=env, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_correctness.py"),
                             data, out], cwd=work, capture_output=True, text=True)
    print(oracle.stdout, end="")
    bad = []
    for k, want in sorted(pins.items()):
        got = run.key_result(os.path.join(out, k))
        status = "ok  " if got == want else "FAIL"
        print(f"{status} pinned {k:28s} {want} recomputed {got}")
        if got != want:
            bad.append(k)
    shutil.rmtree(work, ignore_errors=True)
    return 1 if bad or oracle.returncode != 0 else 0


if __name__ == "__main__":
    sys.exit(main())
