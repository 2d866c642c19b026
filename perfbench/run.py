#!/usr/bin/env python3
"""graft benchmark: workloads against the engine's own front doors.

BENCHMARK.json names the workloads and metrics (see perfbench/README.md).

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first run in a checkout builds the engine and the harness with sbt
(offline); later runs reuse the build while the sources are unchanged.
Every run leaves its record, with load stamps, under .bench_build/records/.
The last line of stdout is the run's result as one JSON object.
"""
import argparse
import fcntl
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("queue_backfill", "query_mix")
XMX = "3g"
# a run must end within 180 s, this script's own work included
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# the options Spark's launcher adds on JDK 17 (same list as the root build)
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every input of the build: the engine's main sources and build
    definition, and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Build once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine sources next to perfbench/ (run from a full checkout)")
    os.makedirs(OUT, exist_ok=True)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and os.path.exists(cp_file):
            with open(stamp_file) as fh, open(cp_file) as cf:
                cp = cf.read().strip()
                if fh.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(":")):
                    return cp
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            repos = os.path.expanduser("~/.sbt/repositories")
            env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g" + (
                f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else "")
        log("building engine and harness with sbt (first run in this checkout)")
        t0 = time.time()
        with open(os.path.join(OUT, "build.log"), "w") as bl:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=bl, text=True,
                timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        with open(os.path.join(OUT, "build.log"), "a") as bl:
            bl.write(p.stdout)
        if p.returncode != 0 or not lines or ":" not in lines[-1]:
            fail(f"build failed (rc={p.returncode}); see .bench_build/build.log")
        cp = lines[-1].strip()
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        log(f"build done in {time.time() - t0:.0f} s")
        return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, seed, seconds, trace, n, work, limit):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", "-XX:-OmitStackTraceInFastThrow",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            workload, str(seed), str(seconds), "1" if trace else "0", str(n), work,
            os.path.join(HERE, "data")]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    err_path = os.path.join(work, "jvm.err")
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err,
                             text=True, start_new_session=True, stdin=subprocess.DEVNULL)
        try:
            out, _ = p.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload}: run exceeded {limit} s; see {err_path}", 3)
    recs = [l[len("GRAFTBENCH "):] for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
    if p.returncode != 0 or not recs:
        with open(err_path) as fh:
            tail = fh.read()[-3000:]
        fail(f"{workload}: JVM exited {p.returncode} without a record\n{tail}", 3)
    return json.loads(recs[-1])


def cpu_times():
    """The machine-wide `cpu` line of /proc/stat: steal time is CPU a
    hypervisor gave to other guests, load that /proc/loadavg cannot show."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    workload = "selftest" if a.selftest else a.workload
    if workload not in WORKLOADS + ("selftest",):
        fail(f"unknown workload {a.workload!r}; choose one of {', '.join(WORKLOADS)}")
    sp = spec()
    load_start = open("/proc/loadavg").read().strip() if os.path.exists("/proc/loadavg") else ""
    cp = build()
    n = cores()
    work = os.path.join(OUT, "work", workload)
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(work)
    t0 = time.time()
    cpu_start = cpu_times()
    rec = run_jvm(cp, workload, a.seed, a.seconds, bool(a.trace) or a.selftest, n, work, RUN_TIMEOUT_S)
    if workload == "query_mix":
        sys.path.insert(0, HERE)
        import oracle
        bad = oracle.check_all(os.path.join(work, "qcheck"), os.path.join(HERE, "oracle", "sf0.1"))
        rec["checks"]["query.oracle"] = not bad
        rec["failed"] += len(bad)
        rec["notes"] += [f"oracle check failed: {b}" for b in bad]
    for note in rec["notes"]:
        log(note)
    rec["stamp"]["loadavg_start_outer"] = load_start
    cpu_end = cpu_times()
    if len(cpu_start) > 7 and len(cpu_end) > 7:
        total = sum(cpu_end) - sum(cpu_start)
        rec["stamp"]["steal_share"] = (cpu_end[7] - cpu_start[7]) / total if total else 0.0
    rec["stamp"]["xmx"] = XMX
    rec["stamp"]["wall_s"] = time.time() - t0
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    rec_path = os.path.join(OUT, "records", f"{workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(dict(rec, workload=workload), fh, indent=1)

    correct = rec["ok"] and rec["failed"] == 0 and all(rec["checks"].values())
    if a.selftest:
        log(json.dumps(rec["checks"]))
        print(json.dumps({"selftest": correct, "checks": rec["checks"]}))
        sys.exit(0 if correct else 1)
    wanted = sp["per_layer"] if a.trace else sp["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = rec["metrics"].get(m["name"])
        if v is None:
            missing.append(m["name"])
            if not a.trace:
                continue
            v = 0  # this workload does not exercise that layer
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing and not a.trace:
        fail(f"{workload}: no value for {', '.join(missing)}; see {rec_path}", 4)
    if missing:
        log(f"{workload}: reported as 0, not exercised here: {', '.join(missing)}")
    log(f"{workload} seed={a.seed} trace={a.trace} correct={correct} record={rec_path}")
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
