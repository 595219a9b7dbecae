#!/usr/bin/env python3
"""Benchmark of the entity-resolution engine: batch_resolve and query_heavy,
each a closed loop in one JVM at local[nproc].

    python3 erbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (the classpath is cached under erbench/target
and rebuilt when a source changes). The last line of standard output is
one JSON object: correct, attempted, failed and metrics (the end-to-end
metrics with --trace 0, the per-layer ones with --trace 1). A failed output
check makes the command exit non-zero. See erbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("batch_resolve", "query_heavy")
BUILD_DIR = os.path.join(HERE, "target")
SCRATCH = os.path.join(HERE, ".scratch")
# the harness JVM's limit; output checks and clean-up follow it, inside the
# 180 s a run may take
RUN_LIMIT_S = 172
BUILD_LIMIT_S = 840
SETUP_REPEATS = 3
# -XX:-UsePerfData: no hsperfdata file under /tmp; the run writes only
# inside its checkout
JAVA_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false"] + [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group.
    Returns the exit code (None on timeout) after every process has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def fingerprint():
    h = hashlib.sha256()
    paths = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = os.path.join(BUILD_DIR, "erbench-classpath.json")
    fp = fingerprint()
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp):
            with open(stamp) as f:
                d = json.load(f)
            if d["fingerprint"] == fp:
                return d["classpath"]
        log("[erbench] building engine and harness with sbt")
        out_path = os.path.join(BUILD_DIR, "build.log")
        with open(out_path, "w") as out:
            rc = run_proc(["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.server.autostart=false",
                           "compile", "export Runtime/fullClasspath"],
                          BUILD_LIMIT_S, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL)
        with open(out_path) as f:
            lines = f.read().splitlines()
        if rc != 0:
            log("\n".join(lines[-40:]))
            raise SystemExit(f"[erbench] build failed (exit {rc})")
        cp = [ln for ln in lines if not ln.startswith("[") and "classes" in ln][-1].strip()
        with open(stamp, "w") as f:
            json.dump({"fingerprint": fp, "classpath": cp}, f)
        return cp


def sweep_stale():
    """Delete scratch left by runs of this benchmark whose process is gone."""
    if not os.path.isdir(SCRATCH):
        return
    for name in os.listdir(SCRATCH):
        if not name.startswith("run-"):
            continue
        try:
            os.kill(int(name[4:]), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(SCRATCH, name), ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def measure(a, classpath, work, deadline):
    pre_setup = []
    qdata = ""
    if a.workload == "query_heavy":
        import querydata
        qdata = os.path.join(work, "qdata")
        for _ in range(SETUP_REPEATS):
            t0, c0 = time.monotonic(), time.process_time()
            querydata.write(qdata, a.seed)
            pre_setup.append({"wall_s": time.monotonic() - t0,
                              "cpu_s": time.process_time() - c0})
    threads = os.cpu_count() or 1
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp)
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={jtmp}", "-cp", classpath, "erbench.Harness",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), work, str(threads), qdata]
    log_path = os.path.join(work, "harness.log")
    t0 = time.monotonic()
    with open(log_path, "w") as out:
        rc = run_proc(cmd, deadline - time.monotonic(), cwd=work, stdout=out,
                      stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    log(f"[erbench] harness JVM: {time.monotonic() - t0:.1f} s")
    result_path = os.path.join(work, "result.json")
    res = None
    if os.path.exists(result_path):
        with open(result_path) as f:
            res = json.load(f)
    if rc != 0 or res is None:
        with open(log_path) as f:
            log("".join(f.readlines()[-60:]))
        log(f"[erbench] harness failed ({'timed out' if rc is None else f'exit {rc}'})")
        if res is None:
            raise SystemExit(1)
    checks = list(res["checks"])
    if a.workload == "query_heavy" and rc == 0:
        t0 = time.monotonic()
        checks += oracle_checks(os.path.join(work, "qout"), qdata, work, deadline)
        log(f"[erbench] oracle compare: {time.monotonic() - t0:.1f} s")
    return res, checks, pre_setup


def oracle_checks(qout, qdata, work, deadline):
    """Each query result against its DuckDB oracle, by the repo's own
    checker, tools/check_oracle.py: one check per query it reports on."""
    with open(os.path.join(qout, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    out_path = os.path.join(work, "oracle.log")
    with open(out_path, "w") as out:
        rc = run_proc([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), qout, qdata],
                      deadline - time.monotonic(), stdout=out, stderr=subprocess.STDOUT,
                      stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    ok = {ln.split()[1].rstrip(":") for ln in lines if ln.startswith("OK ")}
    failed = {ln.split()[1].rstrip(":"): ln for ln in lines if ln.startswith("FAIL ")}
    checks = [{"name": f"oracle_{n}", "ok": n in ok and n not in failed,
               "detail": failed.get(n, "no verdict")} for n in names]
    if rc != 0 and not failed:
        checks.append({"name": "oracle_checker", "ok": False,
                       "detail": f"{'timed out' if rc is None else f'exit {rc}'}: "
                                 + " | ".join(lines[-5:])})
    return checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"[erbench] engine sources not found under {ROOT}/src; run from a checkout root")
        return 2
    sweep_stale()
    classpath = build()
    # a build may take long; the measured run gets its own budget after it
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(SCRATCH, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        res, checks, pre_setup = measure(a, classpath, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed_checks = [c for c in checks if not c["ok"]]
    for c in failed_checks:
        log(f"[erbench] check {c['name']} failed: {c['detail']}")
    if res.get("error") or failed_checks or res["failed"]:
        # a failure is never reported as a time
        log(f"[erbench] failed: {res.get('error') or 'output check'}")
        if res["attempted"]:
            print(json.dumps({"correct": False, "attempted": int(res["attempted"]),
                              "failed": int(res["failed"]), "metrics": {}}))
        return 1
    ctx = res["context"]
    log(f"[erbench] context: cal_ms={ctx['cal_ms']:.1f} nproc={ctx['nproc']} "
        f"threads={ctx['threads']} seed={ctx['seed']} heap_live_mb={res['heap_live_mb']:.1f}")
    log(f"[erbench] {len(res['ops'])} steps, wall/cpu s: "
        + " ".join(f"{o['kind']}={o['wall_s']:.2f}/{o['cpu_s']:.2f}" for o in res["ops"]))
    log(f"[erbench] setup wall: {metrics.setup_seconds(res, pre_setup, 'wall_s'):.2f} s, "
        + json.dumps(res["setup"]))
    if a.trace:
        values, diagnostics = metrics.per_layer(a.workload, res)
        log("[erbench] spans: " + json.dumps(res["spans"]))
        log("[erbench] job groups: " + json.dumps(res["groups"]))
        log("[erbench] diagnostics: " + json.dumps(diagnostics))
    else:
        values = metrics.end_to_end(res, pre_setup)
    print(json.dumps({"correct": True, "attempted": int(res["attempted"]), "failed": 0,
                      "metrics": {k: {"value": v, "unit": metrics.UNITS[k]}
                                  for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
