#!/usr/bin/env python3
"""Wire-level benchmark of the graft engine.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The runner builds the engine together with
the load generator (`perfbench/build.sbt`, output under `.bench_build/`),
makes the fixtures and the seed's inputs with the bundled DuckDB (cached
under `.bench_data/`), then starts one JVM that serves `GraftHttpServer` on
loopback and drives the workload's clients against it
(`perfbench.WireBench`). Every answer is checked.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` -- the `end_to_end` metrics of BENCHMARK.json with
`--trace 0`, its `per_layer` metrics with `--trace 1`. The line before it
is the full artifact (host facts, workload-specific figures, per-layer self
times), also written to `.bench_out/`.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
RUN_LIMIT_S = 170          # one run must end within 180 s
BUILD_LIMIT_S = 850        # the first run in a checkout also builds
SF = 0.1                   # TPC-H scale factor of every workload's fixtures
SIZES = {"export_rows": 12_000, "payload_rows": 6_000, "dml_rows": 1000}
SETUP_REPS = 3
HEAP = "3g"

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_logged(cmd, log, timeout, cwd=ROOT, env=None):
    """Run `cmd` in its own process group, output to `log`; kill the whole
    group on timeout and wait for it."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build(src_digest):
    """Compile engine + load generator once per source digest; returns the
    runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.digest")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == src_digest:
                with open(cp_file) as f:
                    return f.read()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-XX:-UsePerfData",
                                f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.autostart=false"])
    log = os.path.join(BUILD, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                    log, BUILD_LIMIT_S, cwd=HERE, env=env)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}); see {log}", 1)
    with open(stamp, "w") as f:
        f.write(src_digest)
    with open(cp_file) as f:
        return f.read()


def prune_runs(runs_dir, keep):
    runs = sorted((os.path.join(runs_dir, d) for d in os.listdir(runs_dir)),
                  key=os.path.getmtime)
    for d in runs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def host_facts():
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    try:
        shm = os.statvfs("/dev/shm")
        tmpfs_default = shm.f_bavail * shm.f_frsize >= 16 * 1024 ** 3
    except OSError:
        tmpfs_default = False
    return {"nproc": len(os.sched_getaffinity(0)), "load_1m_start": os.getloadavg()[0],
            "git_commit": commit, "engine_tmpfs_default": tmpfs_default,
            "engine_tmpfs_used": False}


def check_names(metrics, wanted):
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"result lacks metrics {missing}", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    with open(bench_json) as f:
        bench = json.load(f)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from the root of a checkout")

    facts = host_facts()
    files = source_files()
    src_digest = digest(files)
    classpath = build(src_digest)
    t_built = time.time()

    tmp = os.path.join(BUILD, "tmp")
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import fixtures
    data_dir = fixtures.ensure_data(ROOT, SF, os.path.join(BUILD, "duckdb_tmp"))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    warehouse = os.path.join(run_dir, "warehouse")
    inputs = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "setup_reps": SETUP_REPS,
        "tables": {t: os.path.join(data_dir, f"{t}.parquet")
                   for t in fixtures.TPCH_TABLES + ["embeddings"]},
        "spark_local_dir": os.path.join(run_dir, "spark-local"),
        "warehouse_dir": warehouse,
        "spans_out": os.path.join(run_dir, "spans.jsonl"),
    }
    inputs.update(fixtures.make_inputs(a.workload, a.seed, data_dir, run_dir,
                                       os.path.join(BUILD, "duckdb_tmp"), SIZES))
    with open(os.path.join(run_dir, "inputs.json"), "w") as f:
        json.dump(inputs, f)

    # GraftSession puts shuffle and spill files on /dev/shm (uncompressed)
    # when it has 16 GiB free; the benchmark keeps every file it makes inside
    # the checkout, so it turns that off and Spark's defaults apply (scratch
    # in the run directory, compressed). The artifact records both.
    env = dict(os.environ, SPARK_GRAFT_TMPFS="0", SPARK_LOCAL_DIRS=inputs["spark_local_dir"])
    result_file = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JAVA_OPENS +
           ["-cp", classpath, "perfbench.WireBench",
            "--inputs", os.path.join(run_dir, "inputs.json"), "--out", result_file])
    budget = RUN_LIMIT_S - (time.time() - t_built) - 5
    rc = run_logged(cmd, os.path.join(run_dir, "jvm.log"), max(30, budget), env=env)
    if rc != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM failed (exit {rc}); see {run_dir}/jvm.log", 1)
    with open(result_file) as f:
        res = json.load(f)
    # keep inputs, result, log and spans; drop the bulky scratch of the run
    for d in ("spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    prune_runs(os.path.dirname(run_dir), keep=30)

    facts.update({
        "load_1m_end": os.getloadavg()[0], "cpus_spark": res["spark_default_parallelism"],
        "jvm_heap": HEAP, "scale_factor": SF, "seed": a.seed, "workload": a.workload,
        "trace": a.trace, "seconds": a.seconds, "source_digest": src_digest,
        "build_s": round(t_built - t_start, 3)})
    if a.workload == "tpch" and a.trace == 0:
        facts["duckdb_tpch_pass_s"] = fixtures.duckdb_tpch_pass(
            data_dir, os.path.join(BUILD, "duckdb_tmp"), cores)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = res["metrics"] if a.trace else res
    check_names(values, wanted)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    artifact = dict(res, facts=facts)
    artifact.pop("metrics", None)
    artifact["metrics"] = metrics
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(json.dumps(artifact))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
