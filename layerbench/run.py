#!/usr/bin/env python3
"""Cold/warm benchmark of the graft engine over closed-loop workloads.

    python3 layerbench/run.py --workload etl_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source into .bench_build/. Each run generates its inputs from
the seed, computes the expected results with the DuckDB oracle, starts
fresh JVMs (setup only, then one measured run: a cold pass, warm passes
and a check pass in one session), checks the results against the oracle and
prints one JSON line. See layerbench/README.md for the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(BUILD, "harness", "scala-2.13", "classes")
ENGINE_JSON = os.path.join(BUILD, "engine.json")

CORES = 4
HEAP = "3g"
SETUPS = 2            # JVM setups per run; setup_s is their median
MIN_WARM = 2
DEADLINE_S = 170      # a run never outlives this

# Each workload: query-name prefixes of SparkEntry.queries, and the nominal
# length of its warm pass. --seconds becomes round(seconds / pass_s) warm
# passes, so every run of a workload takes the same number of samples and
# the tail percentile does not move with the machine's speed. An odd number
# of queries keeps the median latency inside one query's samples instead
# of on the edge between two.
WORKLOADS = {
    "etl_sf0.1": {
        "queries": ["etl01_", "etl03_", "etl05_", "etl16_", "etl19_", "etl24_", "stream01_"],
        "pass_s": 3.9},
    "corpus_sf0.1": {
        "queries": ["text17_", "text18_", "text21_", "text22_", "dedup03_"],
        "pass_s": 2.0},
}

# The JVMs compile with C1 only. With C2, its compiler threads took more
# CPU than the program itself (51 of the 100 CPU seconds of a corpus
# run's measured JVM), and under other tenants' load on a shared 4-core
# host the passes ran as fast as those threads got CPU: three busy
# processes beside a run stretched a corpus cold pass by 66% with C2 and
# by 4% with C1 alone. README.md, "JIT", has the figures.
JIT = "-XX:TieredStopAtLevel=1"
# JVMs keep no perf-data file in the system temp directory, which is
# outside the checkout.
NO_PERF_DATA = "-XX:-UsePerfData"
# Spark on JDK 17 needs these when the session is built outside spark-submit.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BenchError("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError(f"{home} has no jars/ directory")
    return home


def source_digest():
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        raise BenchError("no engine sources (src/main/scala) in this checkout")
    files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HARNESS, "**", "*.scala"), recursive=True)
                   + [os.path.join(HARNESS, "build.sbt"),
                      os.path.join(HARNESS, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}"


def build():
    """Compile the engine with the harness once per source digest."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    built = os.path.exists(os.path.join(CLASSES, "graftbench", "Harness.class"))
    if built and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building engine and harness")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline",
               GRAFTBENCH_TARGET=os.path.join(BUILD, "harness"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", f"-J{NO_PERF_DATA}", "compile"]
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(cmd, cwd=HARNESS, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        raise BenchError(f"build failed (exit {rc}); see {BUILD}/build.log")
    subprocess.run(["java", NO_PERF_DATA, "-cp", classpath(), "graftbench.Harness", "mode=engine",
                    f"out={ENGINE_JSON}"], check=True, timeout=120,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(stamp, "w") as f:
        f.write(digest)


def workload_queries(name):
    names = json.load(open(ENGINE_JSON))["queries"]
    out = []
    for prefix in WORKLOADS[name]["queries"]:
        match = [q for q in names if q.startswith(prefix)]
        if len(match) != 1:
            raise BenchError(f"query prefix {prefix} matches {match}")
        out.append(match[0])
    return out


def inputs(seed):
    """The seed's generated tables, made once per seed and generator: the
    directory is named after a digest of datagen.py, so a changed
    generator makes new inputs (and, with them, new expected results).
    """
    with open(datagen.__file__, "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(BUILD, "data", f"seed-{seed}-{gen}")
    if not os.path.exists(os.path.join(data, ".done")):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(seed, tmp)
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(data, ignore_errors=True)
        os.rename(tmp, data)
    return data


def tree_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def jvm(run_dir, args, deadline):
    """Run the harness in a fresh JVM whose temp dir, warehouse and Derby
    home are new, empty directories under `run_dir`. Returns the launch
    time and the harness's result.
    """
    for d in ("tmp", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", JIT, NO_PERF_DATA] + ADD_OPENS + [
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
        f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dderby.system.home={run_dir}/derby", "-Dspark.ui.enabled=false",
        "-cp", classpath(), "graftbench.Harness", f"out={out}", f"cpus={CORES}"]
        + [f"{k}={v}" for k, v in args.items()])
    launched = time.time()
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "killed at the run's deadline"
    if rc != 0:
        shutil.copy(log_path, os.path.join(BUILD, "last-failed-jvm.log"))
        raise BenchError(f"harness JVM failed ({rc}); see {BUILD}/last-failed-jvm.log")
    return launched, json.load(open(out))


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    build()
    started = time.time()
    deadline = started + DEADLINE_S
    queries = workload_queries(a.workload)
    # Enough warm passes for the tail rule to have samples beyond it.
    warm = max(MIN_WARM, -(-(metrics.TAIL_BEYOND + 1) // len(queries)),
               round(a.seconds / WORKLOADS[a.workload]["pass_s"]))
    data = inputs(a.seed)
    expected = oracle.expected(data, queries, json.load(open(ENGINE_JSON))["oracle_sql"])

    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    setup_s, setup_stats = [], []
    try:
        for i in range(SETUPS - 1):
            d = os.path.join(runs, f"{tag}-setup{i}")
            launched, r = jvm(d, {"mode": "setup", "data": data}, deadline)
            setup_s.append(r["ready_epoch_ms"] / 1000 - launched)
            setup_stats.append(r)
            shutil.rmtree(d)
        run_dir = os.path.join(runs, tag)
        check_dir = os.path.join(runs, tag + "-check")
        launched, run = jvm(run_dir, {
            "mode": "run", "data": data, "queries": ",".join(queries),
            "seed": a.seed, "warm": warm, "trace": a.trace, "check": check_dir},
            deadline)
        setup_s.append(run["setup"]["ready_epoch_ms"] / 1000 - launched)
        setup_stats.append(run["setup"])
        input_bytes = sum(os.path.getsize(os.path.join(data, f"{t}.parquet"))
                          for t in datagen.TABLES)
        left = tree_bytes(run_dir) - os.path.getsize(os.path.join(run_dir, "jvm.log")) \
            - os.path.getsize(os.path.join(run_dir, "result.json"))
        stored_ratio = metrics.stored_ratio(input_bytes, left)
        # Results of the cold and the check pass are checked; an execution is
        # correct when it did not throw and every check of its query matched.
        mismatch = {}
        for e in run["execs"]:
            if e["check_path"] is not None:
                m = oracle.compare(expected[e["query"]], e["check_path"])
                if m is not None:
                    mismatch.setdefault(e["query"], f"pass {e['pass']}: {m}")
        metrics.mark_ok(run["execs"], mismatch)
    finally:
        for d in glob.glob(os.path.join(runs, tag + "*")):
            shutil.rmtree(d, ignore_errors=True)

    failed = [e for e in run["execs"] if not e["ok"]]
    for e in failed:
        log(f"FAILED {e['query']} pass {e['pass']}: {e['error'] or e['mismatch']}")
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "queries": queries, "setup_s": setup_s,
              "failed": sorted({e["query"] for e in failed}),
              "passes": [{k: p[k] for k in ("pass", "traced", "check", "timed_s", "cpu_s", "gc_s",
                                            "order")}
                         for p in run["passes"]]}
    if a.trace:
        values, rows = metrics.per_layer(run, setup_stats, run["cpus"])
        units = {n: u for n, u, _ in metrics.PER_LAYER}
        spans = metrics.build_spans(run, a.workload)
        selft = metrics.self_times(spans)
        for s in spans:
            s["self_us"] = selft[s["id"]]
        report.update(per_query=rows, spans=spans)
    else:
        values, samples, tail_pct = metrics.end_to_end(run, setup_s, stored_ratio)
        units = {n: u for n, u, _ in metrics.END_TO_END}
        report.update(samples=samples, query_tail_percentile=tail_pct,
                      execs=[{k: e[k] for k in ("query", "pass", "construct_s", "action_s",
                                                "cpu_s", "ok")} for e in run["execs"]])
    report["metrics"] = values
    report["run_s"] = time.time() - started
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    with open(os.path.join(BUILD, "reports", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({
        "correct": not failed, "attempted": len(run["execs"]), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"error: {e}")
        sys.exit(1)
