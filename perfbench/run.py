#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload corpus|iterative|stream \
        --seed N --seconds S --trace 0|1

The first run builds the engine and the harness from source with sbt
(offline) and caches the classpath under perfbench/out/. Each run starts
one JVM with a fresh single-process Spark session (local[nproc]). The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics named in
BENCHMARK.json; with --trace 1 they are its per-layer metrics, taken
from a run that also records spans and Spark's listener events. The
line before it is the full report (every metric, the host stamp, per-op
timings), which is also saved under perfbench/out/reports/.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
FIXTURES = os.path.join(BENCH, "fixtures")
PINNED = os.path.join(BENCH, "pinned_digests.json")
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    """Hash of the names, sizes and times of every build input."""
    inputs = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            inputs += [os.path.join(d, f) for f in files]
    for pattern in ("build.sbt", "project/*.sbt", "project/build.properties"):
        inputs += glob.glob(os.path.join(ROOT, pattern))
        inputs += glob.glob(os.path.join(BENCH, pattern))
    h = hashlib.sha256()
    for p in sorted(inputs):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build (when any input changed) and return the harness classpath."""
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the engine sources (build.sbt, src/main) are not in this checkout")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=lf,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e}", 3)
        lf.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}), see {os.path.relpath(log, ROOT)}", 3)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath", 3)
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(fp)
    return cp


def host_stamp(workload, seed, seconds, trace, build):
    model = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "driver_heap": HEAP,
        "fixtures": os.path.relpath(FIXTURES, ROOT),
        "build": build,
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
    }


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs of the host, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:9]]
        return t[7], sum(t)
    except (OSError, ValueError, IndexError):
        return 0, 0


def run_jvm(cp, args, work):
    """Run the harness; return (exit code, stdout, peak RSS in MB, seconds
    from process start until the harness printed its ready line)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so that peak RSS does not follow the heap's growth
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log = os.path.join(OUT, "logs", f"{args[1]}-trace{args[7]}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        # Spark prefers this variable to the session's spark.local.dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        ready_s = None
        out = []
        try:
            for line in p.stdout:
                if ready_s is None and line.startswith("PERFBENCH_READY"):
                    ready_s = time.monotonic() - t0
                out.append(line)
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0:
        with open(log) as lf:
            tail = lf.read()[-4000:]
        print(tail, file=sys.stderr)
    return p.returncode, "".join(out), usage.ru_maxrss / 1024.0, ready_s


def untraced_warm_median(stamp):
    """Median warm-pass time of earlier untraced runs of the same build,
    run length and host shape, for the traced run's overhead."""
    vals = []
    for f in glob.glob(os.path.join(OUT, "reports", f"{stamp['workload']}-trace0-*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if (same_host(r["host"], stamp) and r["host"].get("build") == stamp["build"]
                and r["host"].get("seconds") == stamp["seconds"]):
            vals.append(r["end_to_end"]["warm_pass_s"]["value"])
    return statistics.median(vals) if vals else None


HOST_KEYS = ("nproc", "cpu_model", "driver_heap", "spark_version", "fixtures")


def same_host(a, b):
    return all(a.get(k) == b.get(k) for k in HOST_KEYS if k in a and k in b)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["corpus", "iterative", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pinned", default=PINNED,
                    help="digest file the outputs are checked against")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = classpath()
    for w in ("reports", "logs"):
        os.makedirs(os.path.join(OUT, w), exist_ok=True)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixtures", FIXTURES, "--work", work, "--out", OUT,
            "--pinned", os.path.abspath(a.pinned)]
    steal0, total0 = cpu_ticks()
    try:
        code, out, rss_mb, ready_s = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not lines or ready_s is None:
        fail(f"the {a.workload} run failed (exit {code})", 1)
    r = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    stamp = host_stamp(a.workload, a.seed, a.seconds, a.trace, source_fingerprint()[:16])
    stamp["spark_version"] = r["spark_version"]
    r["host"] = stamp
    # the share of CPU time the hypervisor gave to other guests during the
    # run: times on a shared host are comparable only at similar steal
    steal1, total1 = cpu_ticks()
    r["steal_frac"] = (steal1 - steal0) / (total1 - total0) if total1 > total0 else None
    # process start (JVM launch) until the session is ready: one cold
    # start, which includes class loading and static initialisation
    r["end_to_end"] = {"setup_s": {"value": ready_s, "unit": "s"}, **r["end_to_end"],
                       "peak_rss_mb": {"value": rss_mb, "unit": "MB"}}
    if a.trace:
        base = untraced_warm_median(stamp)
        traced = r["end_to_end"]["warm_pass_s"]["value"]
        r["trace_overhead"] = {
            "untraced_warm_pass_s": base,
            "traced_warm_pass_s": traced,
            "overhead_frac": None if base is None else traced / base - 1.0,
            "listener_s": r["extra"].get("trace_listener_s", {}).get("value"),
        }
    name = f"{a.workload}-trace{a.trace}-seed{a.seed}-{int(time.time() * 1000)}.json"
    with open(os.path.join(OUT, "reports", name), "w") as f:
        json.dump(r, f, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = r["per_layer"] if a.trace else r["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in source:
            fail(f"metric {m['name']} missing from the {a.workload} run", 1)
        v = source[m["name"]]
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    print(json.dumps({k: v for k, v in r.items() if k != "ops"}))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
