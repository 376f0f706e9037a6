#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while its sources are unchanged. Each run then

  1. generates the workload's inputs from --seed (cached per seed);
  2. starts the program's JVM SETUP_SAMPLES times; each start sets up (the
     Spark session and, for the operator surface, the five index prepares)
     and the last one goes on: it warms up, then measures for --seconds
     (--trace 0) or makes the traced per-layer run (--trace 1);
  3. checks every output against the DuckDB oracle;
  4. prints one JSON object as its last line of stdout.

Everything it writes stays under .bench_build/ and .bench_work/ in the
checkout. See perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402

SETUP_SAMPLES = 3
WARM_PATIENTS = 300  # the HTN warm-up set
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
PROGRAM_SOURCES = ["build.sbt", "project", "src/main"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256()
    paths = [os.path.join(root, p) for p in PROGRAM_SOURCES]
    paths += [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
                           if "/target" not in d and "/project/project" not in d)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile program + benchmark; returns {"classpath", "javaOptions"}."""
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    launch_file = os.path.join(out, "launch.json")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(launch_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch_file) as g:
                    return json.load(g)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"writeLaunch {launch_file}"]
    with open(os.path.join(out, "build.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait_or_kill(p, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(launch_file):
        with open(os.path.join(out, "build.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {code}); log in {BUILD_DIR}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch_file) as f:
        return json.load(f)


def wait_or_kill(p, timeout):
    """Wait for `p`; on timeout, or if this process is told to stop, kill
    its whole process group and wait for it. Returns the exit code."""
    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    old = [signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)]
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        for s, h in zip((signal.SIGTERM, signal.SIGINT), old):
            signal.signal(s, h)


# ---------------------------------------------------------------- inputs

def inputs(root, workload, seed, shapes, patients=None):
    """Generate (or reuse) the workload's inputs for `seed`; returns the dir.
    `patients` overrides the shape's patient count (the smoke tests)."""
    base = os.path.join(root, WORK_DIR, "data", workload)
    shape = dict(shapes[workload], **({"patients": patients} if patients else {}))
    key = hashlib.sha256(json.dumps([seed, shape, WARM_PATIENTS],
                                    sort_keys=True).encode()).hexdigest()[:12]
    data = os.path.join(base, f"seed{seed}-{key}")
    if os.path.exists(os.path.join(data, "_DONE")):
        return data
    shutil.rmtree(base, ignore_errors=True)  # keep one input set per workload
    if workload == "operator_surface":
        import surface_gen
        surface_gen.generate(data, shape, seed)
    else:
        import omop_gen
        lists = omop_gen.generate(f"{data}/omop", shape, seed)
        omop_gen.write_codelists(f"{data}/codelists", lists)
        omop_gen.generate(f"{data}/warm/omop", dict(shape, patients=WARM_PATIENTS), seed)
        omop_gen.write_codelists(f"{data}/warm/codelists", lists)
        if "surface_probe" in shape:  # the tables the traced run probes
            import surface_gen
            surface_gen.generate(f"{data}/surface", shape["surface_probe"], seed)
    open(os.path.join(data, "_DONE"), "w").close()
    return data


# ---------------------------------------------------------------- host context

def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def host_context(t0):
    total, steal = cpu_times()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpus": os.cpu_count(), "loadavg": load,
            "steal_pct": round(100.0 * (steal - t0[1]) / max(1, total - t0[0]), 3)}


# ---------------------------------------------------------------- run

def launch(root, jvm, mode, workload, data, run_dir, seconds, seed, idx, timeout):
    """Start the program's JVM once; returns its result file's JSON. The
    JVM options are the program build's own, then the benchmark's: a fixed
    3 GB heap (a steadier peak RSS), no perf-data file in /tmp, and every
    scratch path inside the run dir (later options win)."""
    result = os.path.join(run_dir, f"result-{idx}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + jvm["javaOptions"] + [
        "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", f"-Dderby.system.home={run_dir}/derby",
        "-cp", jvm["classpath"], "perfbench.Main", mode, workload, data,
        os.path.join(run_dir, "work"), result, str(int(time.time() * 1000)), str(seconds),
        str(seed)]
    with open(os.path.join(run_dir, f"jvm-{idx}.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait_or_kill(p, timeout)
    if code != 0 or not os.path.exists(result):
        fail(f"{mode} JVM exited with {code}; log in {os.path.relpath(run_dir, root)}/jvm-{idx}.log")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--patients", type=int, help="smaller inputs, for the smoke tests")
    a = ap.parse_args()

    root = os.getcwd()
    for p in PROGRAM_SOURCES:
        if not os.path.exists(os.path.join(root, p)):
            fail(f"no {p} in {root}: run from the root of a checkout of the program")
    with open(os.path.join(HERE, "workloads.json")) as f:
        shapes = json.load(f)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in shapes:
        fail(f"unknown workload {a.workload}")

    jvm = build(root)
    data = inputs(root, a.workload, a.seed, shapes, a.patients)
    run_dir = os.path.join(root, WORK_DIR, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    cpu0 = cpu_times()
    setups, last = [], None
    for i in range(SETUP_SAMPLES):
        mode = "setup" if i < SETUP_SAMPLES - 1 else ("trace" if a.trace else "measure")
        last = launch(root, jvm, mode, a.workload, data, run_dir, a.seconds, a.seed, i,
                      shapes[a.workload].get("jvm_timeout_s", JVM_TIMEOUT_S))
        setups.append(last["setup_s"])
        if i < SETUP_SAMPLES - 1 and last["errors"]:
            fail(f"set-up failed: {last['errors'][:3]}")
    context = host_context(cpu0)

    # ---- correctness
    # surface rows carry their row name; the rest are HTN analytical tables
    errors = list(last["errors"])
    rows = [o for o in last["outputs"] if "row" in o]
    if rows:
        surface = data if a.workload == "operator_surface" else f"{data}/surface"
        errors += oracle.check_surface(surface, rows)
    tables = [o for o in last["outputs"] if "row" not in o]
    if tables:
        htn = oracle.HtnOracle(data)
        for out in tables:
            errors += htn.check(out, funnel=a.workload == "htn_event_heavy")
    attempted = int(last["attempted"])
    failed = min(attempted, len(errors))

    s = {k: v for k, v in last["samples"].items() if v}
    workload_metrics = {"error_rate": {"value": failed / attempted, "unit": "ratio"}}
    units = {"restart_s": "s", "ckpt_bytes_ratio": "ratio"}
    for k, unit in units.items():
        if k in s:
            workload_metrics[k] = {"value": statistics.median(s[k]), "unit": unit,
                                   "samples": len(s[k])}
    if len(s.get("query_s", [])) > 1:
        q = s["query_s"]
        workload_metrics["query_p50_s"] = {"value": statistics.median(q), "unit": "s",
                                           "samples": len(q)}
        workload_metrics["query_p90_s"] = {
            "value": statistics.quantiles(q, n=10, method="inclusive")[8], "unit": "s",
            "samples": len(q)}

    if a.trace:
        metrics = {m["name"]: {"value": float(last["values"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        if "wall_s" not in s:
            fail(f"no unit of work completed: {errors[:3]}")
        values = {"setup_s": statistics.median(setups),
                  "wall_s": statistics.median(s["wall_s"]),
                  "peak_rss_mb": last["peak_rss_mb"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    print(json.dumps({"workload": a.workload, "seed": a.seed, "context": context,
                      "setup_samples": setups,
                      "wall_samples": s.get("wall_s", []),
                      "workload_metrics": workload_metrics,
                      "mismatches": errors[:50]}))
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
