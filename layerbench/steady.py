#!/usr/bin/env python3
"""Repeats the benchmark over several seeds and reports each end-to-end
metric's median and spread (interquartile distance over the median).

    python3 layerbench/steady.py --workload etl_sf0.1 --seeds 1-10
    python3 layerbench/steady.py --workload etl_sf0.1 --counts 1

Run from the root of a checkout. Each run's JSON line is appended to
--log, so a set can be re-summarised without re-running (--summarise).
--counts runs two traced runs of one seed and lists every count metric
with both readings; the counts must repeat exactly.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


COUNTS = ("construct.jobs", "exec.jobs", "exec.stages", "exec.tasks", "plan.exchanges",
          "plan.topk_nodes", "cache.pins_built", "sink.files")


def bench(workload, seed, seconds, trace):
    out = subprocess.run(
        ["python3", "layerbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    if out.returncode != 0:
        print(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        return None
    return json.loads(out.stdout.strip().splitlines()[-1])


def summarise(lines, bounds):
    by = {}
    for rec in lines:
        for name, m in rec["result"]["metrics"].items():
            by.setdefault((rec["workload"], name), []).append(m["value"])
    rows = []
    for (w, name), vals in sorted(by.items()):
        med = metrics.median(vals)
        sp = metrics.spread(vals) if len(vals) >= 2 and med else 0.0
        rows.append((w, name, len(vals), med, sp, bounds.get(name)))
    return rows


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--log", default=".bench_build/steady.jsonl")
    ap.add_argument("--summarise", action="store_true")
    ap.add_argument("--counts", type=int, default=None, metavar="SEED")
    a = ap.parse_args(argv)
    spec = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    if a.counts is not None:
        for w in a.workload:
            first, second = (bench(w, a.counts, seconds, 1) for _ in range(2))
            for name in sorted(first["metrics"]):
                if name.split(".", 1)[-1] in COUNTS:
                    x, y = first["metrics"][name]["value"], second["metrics"][name]["value"]
                    print(f"| {w} | {name} | {x} | {y} | {'same' if x == y else 'DIFFERS'} |")
        return 0
    if not a.summarise:
        for w in a.workload:
            for s in seeds(a.seeds):
                result = bench(w, s, seconds, 0)
                if result is None:
                    continue
                with open(a.log, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": s, "result": result}) + "\n")
                print(w, s, {k: round(v["value"], 4) for k, v in result["metrics"].items()},
                      flush=True)
    lines = [json.loads(x) for x in open(a.log)]
    lines = [x for x in lines if not a.workload or x["workload"] in a.workload]
    print("| workload | metric | runs | median | spread | bound |")
    print("|---|---|---|---|---|---|")
    for w, name, n, med, sp, bound in summarise(lines, bounds):
        print(f"| {w} | {name} | {n} | {med:.4g} | {sp:.3f} | {bound} |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
