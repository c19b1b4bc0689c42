#!/usr/bin/env python3
"""Benchmark of the graft CDC engine: one workload per invocation.

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 10 --trace 0

Run from the root of an engine checkout. The first run compiles the
engine and the benchmark program with sbt (offline) and caches the class
path under .perfbench/; later runs reuse it until a source file changes.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402

CORES = 4
JVM_HEAP = "3g"
RUN_DEADLINE_S = 170  # everything after the build must end within this
WORKLOADS = ("cdc_backfill", "cdc_incremental")
# Input sizes, rep counts and the key space are constants in
# perfbench/src/main/scala/perfbench/Cdc.scala. The query tables of the
# traced cdc_backfill run come from one fixed seed, so that each query's
# result digest can be recorded once (perfbench/record_ops.py).
OPS_DATA_SEED = 3
OPS_SF = 0.01

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """A problem with the command line or the checkout: exit 2, no result."""


def fail(msg):
    raise BenchError(msg)


def parse_args(argv):
    ap = argparse.ArgumentParser(description="graft engine benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--cores", default=str(CORES),
                    help="cores of the main leg (default 4; at most the CPUs this process may use)")
    # self-test hook: forge a row in the replayed table (cdc_backfill) or drop
    # one from the first query result (traced cdc_incremental), which the
    # correctness checks must catch
    ap.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args(argv)
    try:
        a.seed = int(a.seed)
    except ValueError:
        fail(f"--seed must be a whole number, got '{a.seed}'")
    if not 0 <= a.seed < 2 ** 48:
        fail(f"--seed must be in [0, 2^48), got {a.seed}")
    try:
        a.seconds = int(a.seconds)
    except ValueError:
        fail(f"--seconds must be a whole number, got '{a.seconds}'")
    if not 1 <= a.seconds <= 60:
        fail(f"--seconds must be between 1 and 60, got {a.seconds}")
    try:
        a.cores = int(a.cores)
    except ValueError:
        fail(f"--cores must be a whole number, got '{a.cores}'")
    avail = len(os.sched_getaffinity(0))
    if not 1 <= a.cores <= avail:
        fail(f"--cores {a.cores} is not between 1 and the {avail} CPUs this process may use")
    if a.workload == "cdc_backfill" and a.cores < 2:
        fail("cdc_backfill compares the main leg with a one-core leg: --cores must be at least 2")
    a.trace = a.trace == "1"
    return a


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def check_checkout():
    for p in ("build.sbt", "src/main/scala/graft"):
        if not (ROOT / p).exists():
            fail(f"{ROOT / p} not found: run this from the root of an engine checkout "
                 "(the benchmark builds the engine from its sources)")
    for tool in ("sbt", "java", "taskset"):
        if shutil.which(tool) is None:
            fail(f"'{tool}' is not on PATH")


def source_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file() and p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.exists():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build(log):
    """Compile engine + benchmark (once per source state); return the class path."""
    stamp = STATE / "build.json"
    digest = source_hash()
    if stamp.exists():
        try:
            s = json.loads(stamp.read_text())
            if s.get("sources") == digest:
                return s["classpath"]
        except (ValueError, KeyError):
            pass
    tmp = STATE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=str(tmp),
               SBT_OPTS=f"-Dsbt.offline=true -Dsbt.override.build.repos=true -Dsbt.server.autostart=false "
                        f"-Xmx2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
           "compile", "export Runtime/fullClasspath"]
    log.write(f"$ {' '.join(cmd)}\n")
    log.flush()
    rc, text = run_child(cmd, cwd=HERE, env=env, timeout=880, capture=True, log=log)
    log.write(text)
    if rc != 0:
        fail(f"the build failed (exit {rc}); see {log.name}")
    lines = [ln.strip() for ln in text.splitlines() if "perfbench" in ln and ln.count(os.pathsep) > 5]
    if not lines:
        fail(f"the build printed no class path; see {log.name}")
    cp = lines[-1]
    stamp.write_text(json.dumps({"sources": digest, "classpath": cp}))
    return cp


# ---------------------------------------------------------------------------
# child processes
# ---------------------------------------------------------------------------

def run_child(cmd, cwd, env, timeout, capture, log):
    """Run cmd in its own process group; kill the group on timeout.
    Returns (exit code, captured stdout or '')."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else log, stderr=log, text=True)
    try:
        out, _ = p.communicate(timeout=max(1.0, timeout))
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        log.write(f"\n[perfbench] timed out after {timeout:.0f} s; killed\n")
        return -1, ""
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def jvm(cp, work, args, log, timeout, pin_cpu=None):
    """Run the benchmark JVM; return (its raw result dict or None, exit code).
    With pin_cpu, the JVM runs under taskset on that one CPU and sizes its
    GC, JIT and common-pool threads for one processor."""
    out = work / ("result.json" if pin_cpu is None else "result-1c.json")
    pin = [] if pin_cpu is None else ["taskset", "-c", str(pin_cpu)]
    one = [] if pin_cpu is None else ["-XX:ActiveProcessorCount=1"]
    cmd = (pin + ["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           # no hsperfdata file: temporary files stay inside the checkout
           [f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false"] + one + ["-cp", cp, "perfbench.Main",
            "--work", str(work), "--out", str(out)] + [str(x) for x in args])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log.write(f"$ {' '.join(pin + ['java'] + one)} ... perfbench.Main {' '.join(str(x) for x in args)}\n")
    log.flush()
    rc, _ = run_child(cmd, cwd=ROOT, env=dict(os.environ, TMPDIR=str(work / "tmp")), timeout=timeout,
                      capture=False, log=log)
    if out.exists():
        res = json.loads(out.read_text())
        if rc != 0:
            res["errors"].append(f"benchmark JVM exited with {rc}")
        return res, rc
    return None, rc


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def run_workload(a, cp, work, log, deadline):
    """Returns (raw result or None, extra failed ops, notes)."""
    notes = []
    trace_out = STATE / "traces" / f"{a.workload}-seed{a.seed}.json"
    trace_out.parent.mkdir(parents=True, exist_ok=True)
    if a.workload == "cdc_incremental" and a.trace:
        import datagen
        datagen.write(str(work / "ops-data"), OPS_DATA_SEED, OPS_SF)
    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds, "--trace", int(a.trace),
            "--trace-out", trace_out, "--corrupt", int(a.corrupt)]
    res, rc = jvm(cp, work, args + ["--cores", a.cores], log, deadline - time.monotonic())
    if res is None:
        return None, 1, [f"the benchmark JVM produced no result (exit {rc}); see the log"]
    extra = int(rc != 0)
    if a.workload == "cdc_incremental" and a.trace:
        ran = {o["kind"] for o in res["ops"]}
        missing = [q for q in metrics.QUERIES if f"query:{q}" not in ran]
        if missing:
            notes.append(f"{len(missing)} queries never ran, e.g. {missing[:3]}")
            extra += len(missing)
    if a.workload == "cdc_backfill" and a.trace:
        # the one-core leg, in a JVM of its own over the log the main leg left
        one, rc1 = jvm(cp, work, args + ["--cores", 1], log, deadline - time.monotonic(),
                       pin_cpu=sorted(os.sched_getaffinity(0))[-1])
        if one is None:
            notes.append(f"the one-core JVM produced no result (exit {rc1}); see the log")
            extra += 1
        else:
            extra += int(rc1 != 0)
            res["ops"] += one["ops"]
            res["errors"] += one["errors"]
            if res["digest"] and one["digest"] and res["digest"] != one["digest"]:
                notes.append("the one-core and main legs left different table states")
                extra += 1
    Path(log.name).with_suffix(".result.json").write_text(json.dumps(res))
    if a.trace and trace_out.exists():
        notes.append(f"spans written to {trace_out.relative_to(ROOT)}")
    return res, extra, notes


# ---------------------------------------------------------------------------

def fmt(v):
    return f"{v:.6g}"


def main(argv):
    # a TERM from outside unwinds through the finally blocks below, which
    # kill the benchmark JVM's process group and delete the run's data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        a = parse_args(argv)
        check_checkout()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    STATE.mkdir(parents=True, exist_ok=True)
    (STATE / "logs").mkdir(exist_ok=True)
    work = STATE / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    log_path = STATE / "logs" / f"{a.workload}-seed{a.seed}-trace{int(a.trace)}.log"
    try:
        with open(log_path, "w") as log:
            try:
                cp = build(log)
            except BenchError as e:
                print(f"perfbench: {e}", file=sys.stderr)
                return 2
            deadline = time.monotonic() + RUN_DEADLINE_S
            res, extra, notes = run_workload(a, cp, work, log, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if res is None:
        res = {"ops": [], "setup_s": [0.0], "figures": {}, "layers": {}, "errors": [],
               "digest": "", "peak_rss_mb": 0.0}
    e2e, fig, failed, attempted = metrics.summarize(a.workload, res, extra)
    for n in notes + res["errors"][:10]:
        print(f"perfbench: {n}")
    print("workload figures (untraced): " + ", ".join(
        f"{k}={fmt(v)}" for k, v in fig.items() if v or k == "error_rate"))
    if a.trace:
        values = dict(fig)
        values.update(res["layers"])
        out = {n: {"value": values.get(n, 0.0), "unit": u} for n, u, _ in metrics.PER_LAYER}
    else:
        print("end-to-end: " + ", ".join(f"{k}={fmt(v)}" for k, v in e2e.items()))
        out = {n: {"value": e2e[n], "unit": u} for n, u, _ in metrics.END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
