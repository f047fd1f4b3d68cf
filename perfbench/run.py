#!/usr/bin/env python3
"""Benchmark entry point: builds the program with the benchmark driver,
runs one workload and prints one JSON result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --pin          (rewrite pinned.tsv)

The analytics keys' results are checked here: the JVM writes each key's
result as parquet, and this script hashes it in the canonical string form
of tools/check_correctness.py and compares it with pinned.tsv.

Run it from the repository root. Workloads: cdc_bigstate, cdc_jdbc_dirty,
analytics_mix (see perfbench/README.md). The last stdout line is
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}` with
the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its per-layer
metrics (`--trace 1`). Everything the run writes stays under the checkout:
the build under perfbench/target, run files under .perfbench_work.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

import tables

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".perfbench_work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORKLOADS = ("cdc_bigstate", "cdc_jdbc_dirty", "analytics_mix")
RUN_TIMEOUT_S = 170

# what spark-submit would pass on JDK 17 (graft's build.sbt uses the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("[perfbench] set SPARK_HOME to the Spark installation to build and run against")
    return home


def spark_jars():
    return os.path.join(spark_home(), "jars")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for top in (PROGRAM, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def source_digest():
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


_children = []


def _stop_children(signum, _frame):
    for proc in _children:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd`; kill it on timeout or when this process is terminated."""
    proc = subprocess.Popen(cmd, **kw)
    _children.append(proc)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise
    finally:
        _children.remove(proc)
    return proc.returncode, out, err


def build():
    """Compile program + benchmark with sbt, offline, unless up to date."""
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    code, _, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 800,
                           cwd=BENCH, env=env, stdout=sys.stderr)
    if code != 0:
        sys.exit(f"[perfbench] build failed (sbt exit {code})")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def java(args, work, timeout=RUN_TIMEOUT_S):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms4g", "-Xmx4g", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars()}/*", "graft.perfbench.Main"] + args
    return run_child(cmd, timeout, cwd=work, stdout=subprocess.PIPE, text=True)


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def key_result(path):
    """(rows, hash) of one key's parquet result: SHA-256 over its rows in
    tools/check_correctness.py's canonical string form, columns in name
    order, rows sorted, one line per row."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import canon
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    t = pq.read_table(files)
    cols = sorted(t.column_names)
    rows = sorted(tuple(canon(r[c]) for c in cols) for r in t.to_pylist())
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return len(rows), h.hexdigest()[:16]


def read_pinned():
    """Pinned (rows, hash) per key, one `key<TAB>rows<TAB>hash` line each."""
    out = {}
    with open(os.path.join(BENCH, "pinned.tsv")) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                k, n, h = line.rstrip("\n").split("\t")
                out[k] = (int(n), h)
    return out


def check_results(results, result):
    """Count every key whose result differs from pinned.tsv as failed."""
    bad = set(result["failed_keys"])
    for k, want in sorted(read_pinned().items()):
        got = key_result(os.path.join(results, k))
        if got != want:
            log(f"{k}: result rows/hash {got}, pinned {want}")
            bad.add(k)
    result["failed"] = len(bad)
    result["correct"] = result["correct"] and not bad


def cpu_counters():
    """`ms busy steal`: now, and the CPU ticks of /proc/stat that the
    benchmark JVM reads (graft.perfbench.Steal); `ms 0 0` without it."""
    ms = int(time.time() * 1000)
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return f"{ms} {v[0] + v[1] + v[2] + v[5] + v[6]} {v[7]}"
    except OSError:
        return f"{ms} 0 0"


def run_workload(a):
    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--setup-start", cpu_counters()]
    try:
        if a.workload == "analytics_mix":
            tables.write(os.path.join(work, "tables"))
            args += ["--data", os.path.join(work, "tables")]
        code, out, _ = java(args, work)
        if code != 0:
            sys.exit(f"[perfbench] benchmark JVM exited with {code}")
        result = json.loads(out.strip().splitlines()[-1])
        if a.workload == "analytics_mix":
            check_results(os.path.join(work, "results"), result)
        del result["failed_keys"]
        want = metric_names(a.trace)
        got = list(result["metrics"])
        if sorted(got) != sorted(want):
            sys.exit(f"[perfbench] printed metrics differ from BENCHMARK.json: "
                     f"extra {sorted(set(got) - set(want))}, missing {sorted(set(want) - set(got))}")
        for f in os.listdir(work):
            if f.endswith("-spans.jsonl"):
                os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
                shutil.move(os.path.join(work, f),
                            os.path.join(WORK, "spans", f"{f[:-12]}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def pin():
    """Rewrite pinned.tsv from the current program's results."""
    work = os.path.join(WORK, f"pin-{os.getpid()}")
    try:
        tables.write(os.path.join(work, "tables"))
        code, _, _ = java(["--pin", "--data", os.path.join(work, "tables"), "--work", work],
                          work, timeout=600)
        if code != 0:
            return code
        results = os.path.join(work, "results")
        lines = [f"{k}\t{n}\t{h}\n" for k in sorted(os.listdir(results))
                 for n, h in [key_result(os.path.join(results, k))]]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(BENCH, "pinned.tsv"), "w") as f:
        f.write("# key\trows\thash (run.py key_result at the tables.py data)\n")
        f.writelines(lines)
    return 0


def selftest():
    """Generator determinism, key list, and metric names vs BENCHMARK.json."""
    work = os.path.join(WORK, f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    failures = []
    try:
        code, out, _ = java(["--selftest"], work)
        print(out, end="")
        if code != 0:
            failures.append("JVM self-test")
        code, out, _ = java(["--list-metrics"], work)
        registry = json.loads(out.strip().splitlines()[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    name_re = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    checks = []
    for kind in ("end_to_end", "per_layer"):
        mine = [(m["name"], m["unit"]) for m in registry[kind]]
        theirs = [(m["name"], m["unit"]) for m in spec[kind]]
        checks.append((f"{kind}: printed names and units equal BENCHMARK.json", mine == theirs))
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    checks += [
        ("at most 16 end-to-end and 128 per-layer metrics",
         len(spec["end_to_end"]) <= 16 and len(spec["per_layer"]) <= 128),
        ("metric names match [A-Za-z0-9_.-]+ and are unique",
         all(name_re.match(n) for n in names) and len(set(names)) == len(names)),
        ("workloads equal BENCHMARK.json",
         registry["workloads"] == [w["name"] for w in spec["workloads"]]),
        ("setup_s is an end-to-end metric in s, lower is better",
         any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
             for m in spec["end_to_end"]))]
    a = os.path.join(work, "a")
    b = os.path.join(work, "b")
    try:
        tables.write(a)
        tables.write(b)
        same = all(open(os.path.join(a, f), "rb").read() == open(os.path.join(b, f), "rb").read()
                   for f in sorted(os.listdir(a)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    checks.append(("analytics tables are byte-identical across generations", same))
    pinned = [l.split("\t")[0] for l in open(os.path.join(BENCH, "pinned.tsv"))
              if l.strip() and not l.startswith("#")]
    checks.append(("pinned.tsv covers exactly the analytics keys",
                   sorted(pinned) == sorted(registry["analytics_keys"])))
    for name, ok in checks:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
        if not ok:
            failures.append(name)
    return 1 if failures else 0


def main():
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--pin", action="store_true", help="rewrite pinned.tsv")
    a = p.parse_args()
    if not os.path.isfile(os.path.join(PROGRAM, "graft", "SparkEntry.scala")):
        sys.exit(f"[perfbench] program sources not found under {PROGRAM}; "
                 "run from a full checkout of the repository")
    if not (a.selftest or a.pin) and a.workload is None:
        p.error("--workload is required")
    build()
    if a.selftest:
        sys.exit(selftest())
    if a.pin:
        sys.exit(pin())
    run_workload(a)


if __name__ == "__main__":
    main()
