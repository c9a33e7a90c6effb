#!/usr/bin/env python3
"""Maintenance benchmark of the graft engine.

    python3 perfbench/run.py --workload maintain|lookup|meta --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark from
source (perfbench/build.py), runs one workload in one JVM against the
engine's public API, and prints a report line (every figure, the host
block) followed by the result line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Exits non-zero when the build fails, the JVM fails, or any output is wrong.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("lookup", "maintain", "meta")
# the metric names each mode reports are the ones BENCHMARK.json declares
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    _DECL = json.load(_f)
END_TO_END = [m["name"] for m in _DECL["end_to_end"]]
PER_LAYER = [m["name"] for m in _DECL["per_layer"]]
HEAP = "3g"
DEADLINE_S = 170
# Spark 4 on JDK 17 outside spark-submit: the module opens build.sbt passes
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return (xs[7] if len(xs) > 7 else 0), sum(xs[:8])
    except (OSError, ValueError):
        return None


def free_bytes(path):
    try:
        st = os.statvfs(path)
        return st.f_bavail * st.f_frsize
    except OSError:
        return None


def git_commit():
    """HEAD of the checkout, when it is a git work tree."""
    if not os.path.isdir(".git"):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def work_dir():
    """Where tables, shuffle, spill and java.io.tmpdir go: inside the
    checkout, so the run writes nowhere else."""
    return os.path.abspath(os.path.join(build.BUILD_ROOT, "work-%d" % os.getpid()))


def run_jvm(classes, jars, args, work, log_path, timeout):
    cmd = (["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
           ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    except Exception as e:  # a half-present checkout fails here, loudly
        sys.exit(f"perfbench: build failed: {e!r}")
    t_start = time.time()  # the run's deadline starts after the build

    work = work_dir()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    storage = {"dir": os.path.relpath(work), "tmpfs": False,
               "free_bytes": free_bytes(work)}
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    host = {"nproc": nproc(), "loadavg_before": loadavg(), "heap": HEAP,
            "storage": storage, "git_commit": git_commit()}
    cpu0 = cpu_times()
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out, "--cpus", str(min(4, nproc()))]
    try:
        rc = run_jvm(classes, jars, args, work, log,
                     max(10, DEADLINE_S - (time.time() - t_start)))
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(tail(log))
            sys.exit(f"perfbench: benchmark JVM "
                     f"{'timed out' if rc is None else 'exited with %s' % rc}")
        with open(out) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cpu1 = cpu_times()
    host["loadavg_after"] = loadavg()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        host["cpu_steal_ratio"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    host["jvm_flags"] = raw.get("jvm_args")
    host["heap_max_bytes"] = raw.get("heap_max_bytes")

    e2e, per_type = metrics.end_to_end(raw)
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    if not raw["finish_ok"]:
        # the end-of-run check covers the whole window: every op is suspect
        failed = attempted
    correct = failed == 0 and raw["band_ok"]
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "metrics": e2e, "latency": per_type,
        "latency_series": {t: [round(o["lat_s"], 6) for o in raw["ops"] if o["type"] == t]
                           for t in raw["latency_types"]},
        "steady": {"start": raw["shape_start"], "end": raw["shape_end"],
                   "band": raw["band"], "in_band": raw["band_ok"],
                   "mix_drift": metrics.mix_drift(raw["ops"], raw["latency_types"])},
        "checks": {"finish_ok": raw["finish_ok"], **raw["finish"]},
        "extras": raw.get("extras", {}),
        "setups": raw["setups"], "session_s": raw["session_s"],
        "window": {"active_s": raw["active_s"], "wall_s": raw["window_wall_s"],
                   "gc_s": raw["gc_s"], "gc_count": raw["gc_count"]},
        "errors": [o["err"] for o in raw["ops"] if not o["ok"]][:5],
        "host": host,
    }
    if a.trace:
        layers = metrics.per_layer(raw)
        ov = metrics.tracing_overhead(raw)
        report["tracing"] = ov
        layers["trace.overhead"] = {"value": ov["overhead"] or 0.0, "unit": "1"}
        report["layers"] = layers
        chosen = {k: layers[k] for k in PER_LAYER}
    else:
        chosen = {k: e2e[k] for k in END_TO_END}
    print(json.dumps({"report": report}))
    result = {"correct": bool(correct), "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                          for k, v in chosen.items()}}
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
