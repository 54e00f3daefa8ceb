#!/usr/bin/env python3
"""graft's benchmark. Run from the repository root:

    python3 bench/run.py --workload structure --seed 1 --seconds 15 --trace 0

It builds the program and the benchmark's own JVM runner from source with
sbt (once per source state), launches the runner JVM directly with a fixed
heap, runs the workload's ops from `graft.SparkEntry.queries` for the given
seconds, checks every output against `bench/expected.json`, and prints one
JSON object as its last line: every end-to-end metric with `--trace 0`,
every per-layer metric with `--trace 1`. See bench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("structure", "stream")
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected.json")
# Set-up is measured this many times per untraced run (one JVM each; the
# last one goes on to run the workload) and reported as the median.
SETUPS = 3
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    out = build_dir()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(out, exist_ok=True)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of physical memory, clamped to 2-8 GiB, as the repo's tests size it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(max(g, 2), 8)}g"


SANDBOX = ["unshare", "-m", "--", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"']


def sandbox_ok(scratch):
    """Whether /tmp can be bound to a private directory for the JVM."""
    os.makedirs(scratch, exist_ok=True)
    try:
        return subprocess.run(SANDBOX + [scratch, "true"], stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=20).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def run_jvm(classpath, work, sandbox, timeout, **args):
    """Runs the runner JVM with `work` as its only writable place: the
    program's queries write fixed paths under /tmp, so in the sandbox /tmp
    is `work/tmp` through a private mount. Returns the JVM's JSON output."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "out.json")
    java = (["java"] + ADD_OPENS +
            [f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g",
             "-XX:+UseCodeCacheFlushing", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "graftbench.Main", f"work={work}", f"out={out}",
             f"cores={cores()}"] + [f"{k}={v}" for k, v in args.items()])
    cmd = (SANDBOX + [tmp] + java if sandbox else java) + [f"launched_ms={int(time.time() * 1000)}"]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"runner JVM timed out after {timeout} s; see {log}")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"runner JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def host_noise():
    """Steal jiffies so far and the load average: run diagnostics."""
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return steal, load
    except (OSError, IndexError, ValueError):
        return None, None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no program sources under {ROOT}")
    if not os.path.isdir(DATA) or not os.path.exists(EXPECTED):
        fail("benchmark data or expected outputs missing")
    steal0, load = host_noise()
    classpath = build()
    runs = os.path.join(build_dir(), "run")
    shutil.rmtree(runs, ignore_errors=True)
    sandbox = sandbox_ok(os.path.join(runs, "probe"))
    setups = []
    if not a.trace:
        for i in range(SETUPS - 1):
            r = run_jvm(classpath, os.path.join(runs, f"setup{i}"), sandbox, 120, mode="setup")
            setups.append(r["setup_s"])
    work = os.path.join(runs, "main")
    r = run_jvm(classpath, work, sandbox, a.seconds + 150, mode="run", workload=a.workload,
                seed=a.seed, seconds=a.seconds, trace=a.trace, data=DATA, expected=EXPECTED)
    metrics = r["metrics"]
    if not a.trace:
        setups.append(r["setup_s"])
        metrics["setup_s"] = {"value": statistics.median(setups), "unit": "s"}
    steal1, _ = host_noise()
    diag = dict(r["diagnostics"], sandboxed_tmp=sandbox, load_avg_at_start=load,
                setup_samples_s=setups or None,
                steal_s=None if steal0 is None else (steal1 - steal0) / os.sysconf("SC_CLK_TCK"))
    if a.trace:
        diag["spans"] = os.path.relpath(os.path.join(work, "spans.json"), ROOT)
    for f in r["failures"]:
        print(f"FAILED {f}")
    print("diagnostics " + json.dumps(diag))
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
