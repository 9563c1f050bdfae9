#!/usr/bin/env python3
"""Run one meltspark benchmark workload and print its result as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload mirror_sf0.01 --seed 1 --seconds 8 --trace 0

The first call builds the library and the benchmark from source with sbt
(offline) and caches the classpath in `.bench_build/`; later calls start the
JVM directly. `--trace 1` records spans and prints the per-layer metrics
instead of the end-to-end ones. `--selftest` runs the benchmark's self-test.
See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import summarize  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ["mirror_sf0.01", "cdc_2k", "queries_sf0.01"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # a first run builds and measures within 900 s
TOOL_TIMEOUT_S = 900

# Spark 4 on JDK 17 needs these outside spark-submit (the library's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


_children = []


def _stop_children(signum, _frame):
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or when
    this script is terminated, and wait for it. Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True,
                         text=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"perfbench: {cmd[0]} exceeded {timeout} s")
    finally:
        _children.remove(p)


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: run from the repository root; the library sources "
                 "(build.sbt, src/main/scala/graft) are missing")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    rc, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        sys.exit("perfbench: sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, work, jargs, timeout):
    # a fixed-size heap: letting G1 grow it was a large source of run-to-run noise
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}", "-Djava.awt.headless=true",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work,
            "--data", os.path.join(HERE, "data")] + jargs
    return run_child(cmd, timeout, stdout=sys.stderr, stderr=sys.stderr)[0]


def run_workload(cp, workload, seed, seconds, trace, small=False):
    """One JVM run; the result dict, with per-layer metrics when tracing."""
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_jvm(cp, work, [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--small", str(int(small))], RUN_TIMEOUT_S)
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            sys.exit(f"perfbench: {workload} exited with code {rc}")
        with open(result_path) as f:
            result = json.load(f)
        if trace:
            trace_path = os.path.join(work, "trace.jsonl")
            shutil.copy(trace_path, os.path.join(BUILD, f"trace-{workload}.jsonl"))
            log("traced run end-to-end: " + json.dumps(result["metrics"]))
            result["metrics"] = summarize.per_layer(summarize.load(trace_path))
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_tool(cp, mode):
    """The JVM in self-test or golden-recording mode; its exit code."""
    work = os.path.join(BUILD, "work", f"{mode}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc = run_jvm(cp, work, ["--workload", WORKLOADS[0], "--seed", "1",
                                "--seconds", "1", "--mode", mode], TOOL_TIMEOUT_S)
        if rc == 0 and mode == "record-golden":
            for f in ("queries_sf0.01.json", "calibration.json"):
                shutil.copy(os.path.join(work, f), os.path.join(BUILD, f))
            log(f"goldens written to {BUILD}")
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(cp):
    """Gate checks in the JVM, then every workload shortened, untraced and
    traced: each must pass its gates and emit every BENCHMARK.json metric
    with its unit."""
    if run_tool(cp, "selftest") != 0:
        sys.exit("selftest: a correctness gate is vacuous or broken")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run_workload(cp, w, seed=1, seconds=1, trace=trace, small=True)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()
                   if isinstance(v.get("value"), (int, float))}
            if got != want or not r["correct"] or r["failed"] != 0:
                sys.exit(f"selftest: {w} trace={trace}: correct={r['correct']} "
                         f"failed={r['failed']} missing={sorted(set(want) - set(got))} "
                         f"extra={sorted(set(got) - set(want))}")
            log(f"selftest {w} trace={trace}: {len(got)} metrics ok")
    log("selftest passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark self-test instead of a workload")
    ap.add_argument("--record-golden", action="store_true",
                    help="run every query once and write fresh goldens "
                         "into the build directory for review")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    if not (a.workload or a.selftest or a.record_golden):
        ap.error("--workload is required")
    cp = build()
    if a.selftest:
        selftest(cp)
    elif a.record_golden:
        sys.exit(run_tool(cp, "record-golden"))
    else:
        result = run_workload(cp, a.workload, a.seed, a.seconds, a.trace)
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
