#!/usr/bin/env python3
"""Benchmark runner: builds the program and the runner from source,
makes the workload's inputs from the seed, runs one JVM, checks every
op's output and prints the metrics as one JSON line (the last line of
stdout).

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a traced run. See
perfbench/README.md.
"""
import argparse
import glob
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

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "etl_ingest")
# scale of the generated star-schema tables (sf0.1 = 600k lineitems)
STAR_SF = 0.02
RUN_LIMIT_S = 175
# every per-layer metric of a traced run, with its unit; a layer a
# workload does not touch reads 0
LAYER_UNITS = {
    "Sessions.session_s": "s", "setup.warmup_s": "s", "setup.inputs_s": "s",
    "queries.build_s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_delay_s": "s", "exec.core_busy_frac": "ratio",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.input_bytes": "bytes", "exec.failed_tasks": "count",
    "streaming.batches": "count", "streaming.empty_batches": "count",
    "streaming.input_rows": "rows", "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.latest_offset_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows": "rows", "streaming.outside_batch_s": "s",
    "streaming.state_mem_bytes": "bytes",
    "sources.append_s": "s", "sources.appended_frac": "ratio", "sources.read_s": "s",
    "sources.table_files": "count", "sources.stored_bytes_per_row": "bytes",
    "sources.tmp_bytes": "bytes",
    "operators.validate_s": "s", "operators.reject_frac": "ratio", "operators.fold_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "host.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_home():
    """$SPARK_HOME, else the first installation on PATH: a spark-submit
    with a jars/ directory beside its bin/ (a pip-installed pyspark
    script has none)."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        sub = os.path.join(d, "spark-submit")
        if d and os.path.isfile(sub):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(sub))))
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation: set SPARK_HOME")


def source_digest():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def main_digest():
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the runner once per source digest."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    # build.sbt compiles against the Spark the run will use
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
                       + env.get("SBT_OPTS", ""))
    t0 = time.time()
    log("building (first run in this checkout)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def inputs(workload, seed):
    """Generated inputs for (workload family, seed, generator version),
    built once and reused; returns (dirs, seconds spent building)."""
    base = os.path.join(HERE, ".cache", f"v{gen.GEN_VERSION}")
    t0 = time.time()
    dirs = {}
    if workload == "etl_ingest":
        d = os.path.join(base, f"etl-seed{seed}")
        if not os.path.exists(os.path.join(d, "plan.json")):
            shutil.rmtree(d, ignore_errors=True)
            gen.etl(d, seed)
        dirs["etl"] = d
    d = os.path.join(base, f"star-sf{STAR_SF}-seed{seed}")
    if not os.path.exists(os.path.join(d, "embeddings.parquet")):
        shutil.rmtree(d, ignore_errors=True)
        gen.star(d, seed, STAR_SF)
    dirs["star"] = d
    return dirs, time.time() - t0


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def host_info():
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    return {"nproc": os.cpu_count(), "mem_total_mb": mem}


def run_jvm(classes, workload, seed, seconds, trace, dirs, run_dir, deadline):
    tmp, local, out = (os.path.join(run_dir, x) for x in ("tmp", "local", "out"))
    for d in (tmp, local, out):
        os.makedirs(d)
    cpus = str(os.cpu_count())
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", classes + os.pathsep + os.path.join(spark_home(), "jars", "*"), "perfbench.Runner",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--out", out, "--cpus", cpus])
    for k, v in dirs.items():
        cmd += [f"--{k}", v]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        return None
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def metrics(res, trace, failed, host, inputs_s, steal):
    ops = res["ops"]
    done = [o for o in ops if o["timed"] and not o["error"]]
    window = res["window_s"]
    if not trace:
        lat = [o["latency_s"] for o in done]
        # evidence only: a run has too few ops for ten samples beyond p90
        host["op_p90_s"], host["op_p90_samples"] = check.percentile(lat, 0.9)
        host["op_latencies_s"] = [o["latency_s"] for o in ops if o["timed"]]
        m = {
            "setup_s": (res["setup_s"], "s"),
            "ops_per_s": (len(done) / window, "1/s"),
            "op_p50_s": (check.hd_median(lat), "s"),
            "ingest_rows_per_s": (sum(o["ingest_rows"] or 0 for o in done) / window, "rows/s"),
            "ok_frac": ((len(ops) - len(failed)) / len(ops), "ratio"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
    else:
        layers = dict(res["layers"])
        layers["setup.inputs_s"] = inputs_s
        layers["host.steal_frac"] = steal
        m = {k: (layers.get(k, 0.0), u) for k, u in LAYER_UNITS.items()}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.time()
    deadline = started + RUN_LIMIT_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java are required")

    t_build = time.time()
    classes = build()
    # the build (first run in a checkout) does not count against the run's limit
    deadline += time.time() - t_build
    dirs, inputs_s = inputs(a.workload, a.seed)
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    total0, steal0 = cpu_times()
    t_start = time.time()
    try:
        res = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, dirs, run_dir, deadline)
        t_jvm = time.time()
        total1, steal1 = cpu_times()
        steal = (steal1 - steal0) / max(1, total1 - total0)
        if res is None:
            fail("the benchmark JVM failed", 3)
        oracle = check.Oracle(dirs["star"], os.path.join(dirs["star"], "oracle"))
        failed, reasons = check.check_registry(res, oracle)
        if a.workload == "etl_ingest":
            with open(os.path.join(dirs["etl"], "plan.json")) as f:
                f2, r2 = check.check_etl(res, json.load(f))
            failed |= f2
            reasons += r2
        errors = [o for o in res["ops"] if o["error"]]
        failed |= {o["id"] for o in errors}
        for o in errors[:5]:
            log(f"op {o['name']} threw: {o['error']}")
        for r in reasons[:10]:
            log(f"check failed: {r}")
        log(f"timings: jvm {t_jvm - t_start:.1f} s, checks {time.time() - t_jvm:.1f} s, "
            f"before jvm {t_start - started:.1f} s")
        host = host_info()
        host.update({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                     "src_main_digest": main_digest(), "host_steal_frac": steal,
                     "inputs_s": inputs_s, "ops": len(res["ops"]),
                     "window_s": res["window_s"], "setup_s": res["setup_s"]})
        m = metrics(res, a.trace, failed, host, inputs_s, steal)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps({"correct": not failed, "attempted": len(res["ops"]),
                      "failed": len(failed), "metrics": m}))


if __name__ == "__main__":
    main()
