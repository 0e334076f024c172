#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 repobench/run.py --workload <pipeline|dashboard|registry> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (`repobench/build.sbt`); later runs reuse the
build while the sources are unchanged. Each run generates its corpus from
the seed, runs the harness JVM in a fresh working directory under
`.bench_runs/`, checks the outputs with DuckDB, and removes the directory.
See README.md for the workloads, the metrics and how to read a traced run.
"""

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

# Per workload: warm-up ops after the cold one (the first warm ops still run
# while the JIT compiles) and the fewest measured warm ops.
WORKLOADS = {
    "pipeline": {"warmup": 0, "min_warm": 1},
    "dashboard": {"warmup": 2, "min_warm": 6},
    "registry": {"warmup": 0, "min_warm": 1},
}
JVM_TIMEOUT_S = 170     # a run must end within 180 s
DASHBOARD_STATES = 1000     # widget states drawn per run (more than any run uses)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# Engine settings stamped into every record even when unset.
GRAFT_VARS = ["SPARK_GRAFT_CPUS", "SPARK_GRAFT_CONF", "SPARK_GRAFT_REBALANCE_TARGET_KB",
              "SPARK_GRAFT_MAX_PAIR_BUDGET", "SPARK_GRAFT_GATE_PARTITIONS",
              "SPARK_GRAFT_JOIN_GATE_PARTITIONS", "SPARK_GRAFT_ROCKSDB_STATE"]
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "repobench/build.sbt", "repobench/project/build.properties", "repobench/src"]


def log(msg):
    print(f"[repobench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL)
    if res.returncode != 0 or not os.path.exists(cp_file):
        raise SystemExit(f"build failed (sbt exit {res.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def write_inputs(workload, seed, path):
    with open(path, "w") as f:
        if workload == "dashboard":
            for lo, hi, h0, h1, types in stats.dashboard_params(seed, DASHBOARD_STATES):
                f.write(f"{lo}\t{hi}\t{h0}\t{h1}\t{'|'.join(types)}\n")
        elif workload == "registry":
            f.write("\n".join(stats.registry_order(seed)) + "\n")


def driver_mem():
    return os.environ.get("SPARK_DRIVER_MEM", "2g")


def run_jvm(classpath, workload, data, inputs, out, seconds, trace, work):
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp), os.makedirs(local)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{driver_mem()}", f"-Xmx{driver_mem()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "repobench.Main",
            workload, data, inputs, out, str(seconds), str(trace),
            *(str(WORKLOADS[workload][k]) for k in ("warmup", "min_warm"))])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=logf,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"harness JVM failed ({rc}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) CPU ticks since boot: on a shared virtual machine the
    hypervisor's steal is the usual cause of a slow run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# --------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for rel in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            raise SystemExit(f"engine source missing: {rel} (run from the repository root)")
    load_start = loadavg()
    classpath = build()

    work = os.path.join(ROOT, ".bench_runs", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = gen.write(args.seed, os.path.join(work, "data", "sfbench"))
        inputs = os.path.join(work, "inputs.txt")
        write_inputs(args.workload, args.seed, inputs)
        t0, ticks0 = time.time(), cpu_ticks()
        rec = run_jvm(classpath, args.workload, data, inputs, os.path.join(work, "record.json"),
                      args.seconds, args.trace, work)
        jvm_s = time.time() - t0
        steal = [b - a for a, b in zip(ticks0, cpu_ticks())]
        attempted, failed, detail = getattr(check, f"check_{args.workload}")(data, rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    e2e, e2e_info = metrics.end_to_end(rec)
    printed = metrics.per_layer(rec) if args.trace else e2e
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "jvm_wall_s": jvm_s,
        "provenance": {
            "nproc": os.cpu_count(), "cpus": rec["cpus"], "driver_memory": driver_mem(),
            "max_heap_mb": rec["max_heap_mb"], "load_avg_start": load_start,
            "load_avg_end": loadavg(), "cpu_steal_share": steal[0] / max(steal[1], 1),
            "spark_version": rec["spark_version"],
            "java_version": rec["java_version"], "python": platform.python_version(),
            "commit": commit(),
            "graft_env": {k: os.environ.get(k, "") for k in sorted(
                set(GRAFT_VARS) | {k for k in os.environ if k.startswith("SPARK_GRAFT_")})}},
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, **e2e_info,
        "failed_op_ratio": failed / attempted,
        "ops_ms": [[o["kind"], o["traced"], o["ms"]] for o in rec["ops"]],
        "staging": {"setup_s": rec["setup_staging_s"], "setup_rebuilds": rec["setup_rebuilds"],
                    "cold_s": rec["cold_staging_s"], "cold_rebuilds": rec["cold_rebuilds"],
                    "warm_s": rec["timed_staging_s"], "warm_rebuilds": rec["timed_rebuilds"],
                    "flagged": rec["timed_rebuilds"] > 0},
        "checks": detail,
    }
    if args.trace:
        record["per_layer"] = {k: v for k, (v, _) in printed.items()}
        n = sum(1 for o in rec["ops"] if o["traced"])
        record["layer_self_s"] = {k: v / n for k, v in stats.layer_self_seconds(rec["spans"]).items()}
    if args.workload == "registry":
        record["registry_split_s"] = dict(zip(("batch", "stream"), metrics.registry_split(rec)))
        # per pass: [query, module, build ms, exec ms, rows]
        record["queries"] = [o.get("queries", []) for o in rec["ops"]]
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in printed.items()}}))


if __name__ == "__main__":
    main()
