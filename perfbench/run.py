#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload chat_serve --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout. The first run builds the
library and the driver program with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. The driver runs in one
JVM on `local[<cpus>]`: it sets up the session several times, checks
every op's output once, warms up, and then measures a closed loop for
`--seconds`. With `--trace 1` it also runs a traced loop and the kernel
and scan probes, writes the span file under perfbench/.work/traces/, and
reports the per-layer metrics instead of the end-to-end ones.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Earlier lines carry the host identity, per-pass throughput and sample
counts. See perfbench/README.md for the workloads and how to read them.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402

WORKLOADS = ("chat_serve", "corpus_prep")
HEAP = "2g"
SETUPS = 3
RUN_LIMIT_S = 175.0      # a run must end within 180 s
BUILD_LIMIT_S = 850.0    # ... except the first, which builds
JDK_OPENS = (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads from the checkout."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build(deadline):
    """Compile the library and the driver; return the runtime classpath."""
    files = sources()
    missing = [str(p) for p in files[:2] if not p.is_file()]
    if missing or not (ROOT / "src" / "main").is_dir():
        fail("not a graft source checkout (missing build.sbt or src/main); "
             "run from the root of the repository")
    stamp = hashlib.sha256()
    for p in files:
        stamp.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    stamp = stamp.hexdigest()
    out = HERE / ".build"
    cp_file, stamp_file = out / "classpath", out / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    out.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export perfbench/Runtime/fullClasspath"]
    with open(out / "build.log", "w") as log:
        try:
            p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                               stdin=subprocess.DEVNULL, text=True,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {out / 'build.log'}")
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        fail(f"build failed; see {out / 'build.log'}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times():
    """(steal, total) jiffies of all cpus, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def run_jvm(classpath, work, args, deadline):
    """Run the driver program; return its run record."""
    java = shutil.which("java") or str(Path(os.environ.get("JAVA_HOME", "")) / "bin" / "java")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    raw = work / "raw.json"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for pkg in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["graftbench.Main", "--data", str(HERE / "data"), "--work", str(work),
            "--out", str(raw), "--cpus", str(cpus())] + args
    # the library's env knobs must not leak into the measured session
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["CLASSPATH"] = classpath
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"driver timed out; log kept in {work / 'jvm.log'}")
    if code != 0 or not raw.is_file():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        fail(f"driver exited with {code}:\n" + "\n".join(tail))
    return json.loads(raw.read_text())


def check_outputs(run, work):
    """Outputs of the untimed pass that do not match, as (op, reason). Ops
    that raised are failed ops already; the store cycle checks itself."""
    import correctness
    expected = json.loads((HERE / "expected.json").read_text())
    bad = []
    for op in run["check"]["ops"]:
        if op["ok"] and not op["op"].startswith("store."):
            why = correctness.check_op(work / "out" / op["op"], expected.get(op["op"]))
            if why:
                bad.append((op["op"], why))
    return bad


def write_trace(run, path, overhead):
    ops = run["traced"]["ops"]
    spans = [dict(metrics.op_spans(o), persisted_rdds_delta=o["persisted_delta"],
                  agg=o["agg"], rewrite_hits=o["rewrite_hits"]) for o in ops]
    tables = {o["op"]: o["extra"]["tables"] for o in run["check"]["ops"] if "tables" in o.get("extra", {})}
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({"host": run["host"], "overhead": overhead, "tables": tables,
                                "scans": run["scans"], "spans": spans}, indent=1))


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not (HERE / "data").is_dir() or not (HERE / "expected.json").is_file():
        fail("benchmark data or expected outputs missing under perfbench/")

    classpath = build(start + BUILD_LIMIT_S)
    # the run limit counts from the start, but a run that built keeps at
    # least half of it for the driver program
    deadline = time.monotonic() + RUN_LIMIT_S - min(RUN_LIMIT_S / 2, time.monotonic() - start)
    work = HERE / ".work" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cpu0 = cpu_times()
    # a failed driver run exits here and keeps its work directory for the log
    run = run_jvm(classpath, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--setups", str(SETUPS)],
        deadline)
    try:
        bad = check_outputs(run, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed_ops = metrics.failures(run)
    failed = len(failed_ops) + len(bad)
    for op, why in bad:
        print(f"check failed: {op}: {why}")
    for o in failed_ops[:5]:
        print(f"op failed: {o['op']} (client {o['client']}, pass {o['pass']}): {o['error']}")

    host = dict(run["host"])
    cpu1 = cpu_times()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # share of the host's cpu time taken by other guests while this ran
        host["cpu_steal_frac"] = round((cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]), 4)
    print("host " + json.dumps(host, sort_keys=True))
    print("pass_throughput_ops_s " + json.dumps(
        {k: metrics.pass_series(run[k]) for k in ("warm", "timed", "untraced_pair", "traced")
         if k in run}))
    e2e, counts = metrics.end_to_end(run)
    print("timed_samples " + json.dumps(dict(counts, setup_runs_s=run["setup_s"])))

    if a.trace:
        values = metrics.per_layer(run, host["cpus"])
        traced = metrics.loop_e2e(run["traced"])
        untraced = metrics.loop_e2e(run["untraced_pair"])
        overhead = {k: traced[k] - untraced[k] for k in traced}
        print("trace_overhead " + json.dumps({"traced": traced, "untraced": untraced,
                                              "traced_minus_untraced": overhead}))
        trace_file = HERE / ".work" / "traces" / f"{a.workload}-seed{a.seed}.json"
        write_trace(run, trace_file, overhead)
        print(f"trace_file {trace_file.relative_to(ROOT)}")
    else:
        values = e2e
    result = metrics.result_line(not bad and not failed_ops, attempted, failed, values)
    result_dir = HERE / ".work" / "results"
    result_dir.mkdir(parents=True, exist_ok=True)
    (result_dir / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(dict(result, host=host, op_latency_s=metrics.op_medians(run["timed"]))))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
