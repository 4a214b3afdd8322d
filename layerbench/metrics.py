"""The benchmark's arithmetic: medians, the tail-percentile rule, ratios,
span trees with self time, and the reduction of one harness run to its
end-to-end and per-layer metrics.
"""
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs)


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile of `xs` with at least `beyond` samples above
    it. Returns (value, percentile); the value at rank r (1-based, sorted
    ascending) has n - r samples beyond it, so r = n - beyond.
    """
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot leave {beyond} beyond a percentile")
    rank = n - beyond
    return sorted(xs)[rank - 1], 100.0 * rank / n


def busy_ratio(task_s, exec_s, cores):
    """Share of the cores' wall time that tasks were running."""
    return task_s / (exec_s * cores)


def mark_ok(execs, mismatch):
    """Sets each execution's `mismatch` (the oracle check's finding for its
    query, from `mismatch`, keyed by query) and `ok`: an execution is
    correct when it did not throw and every check of its query matched.
    """
    for e in execs:
        e["mismatch"] = mismatch.get(e["query"])
        e["ok"] = e["error"] is None and e["mismatch"] is None


def ok_ratio(execs):
    """Correct results over attempted executions (see `mark_ok`): a throw
    counts as a failure like a wrong result.
    """
    return sum(1 for e in execs if e["ok"]) / len(execs)


def stored_ratio(input_bytes, left_bytes):
    """Bytes the run's data occupies once it has ended, the input parquet
    plus what the run left in its own directories, per input byte. The
    input is counted so that a run that leaves nothing reads 1, not 0.
    """
    return (input_bytes + left_bytes) / input_bytes


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children count once).
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - covered(children.get(s["id"], []), s["start_us"], s["end_us"])
            for s in spans}


def _plan_interval(plans):
    """[first phase start, last phase end] over the action's plans (ms)."""
    phases = [p for plan in plans for p in plan["phases"].values()]
    if not phases:
        return None
    return min(a for a, _ in phases), max(b for _, b in phases)


def build_spans(run, workload):
    """The traced passes as spans: workload -> pass -> query ->
    {construct, plan, execute} -> job -> stage. Times are epoch µs.
    """
    spans = []

    def add(parent, kind, name, start, end):
        spans.append({"id": len(spans) + 1, "parent": parent, "kind": kind,
                      "name": name, "start_us": start, "end_us": end})
        return len(spans)

    def add_jobs(parent, phase):
        stages = {(s["id"]): s for s in phase["stages"]}
        for job in phase["jobs"]:
            jid = add(parent, "job", f"job {job['id']}",
                      job["start_ms"] * 1000, job["end_ms"] * 1000)
            for sid in job["stage_ids"]:
                s = stages.pop(sid, None)
                if s is not None:
                    add(jid, "stage", f"stage {sid}",
                        s["start_ms"] * 1000, s["end_ms"] * 1000)

    w = add(0, "workload", workload, *run["workload_us"])
    by_pass = {}
    for e in run["execs"]:
        by_pass.setdefault(e["pass"], []).append(e)
    for p in run["passes"]:
        if not p["traced"]:
            continue
        pid = add(w, "pass", f"pass {p['pass']}", *p["span_us"])
        for e in by_pass.get(p["pass"], []):
            c0, c1 = e["construct_us"]
            a0, a1 = e["action_us"]
            q = add(pid, "query", e["query"], c0, a1)
            add_jobs(add(q, "construct", "construct", c0, c1), e["construct"])
            exec_start = a0
            plan = _plan_interval(e["action"]["plans"])
            if plan is not None:
                p0, p1 = max(plan[0] * 1000, a0), min(plan[1] * 1000, a1)
                add(q, "plan", "plan", p0, p1)
                exec_start = max(exec_start, p1)
            add_jobs(add(q, "execute", "execute", exec_start, a1), e["action"])
    return spans


def query_row(e, cores):
    """Per-layer figures of one traced query execution."""
    con, act = e["construct"], e["action"]
    both = con["stages"] + act["stages"]

    a0, a1 = e["action_us"]
    c0, c1 = e["construct_us"]

    def phase_s(name):
        # A tracker reused across passes (a memoised DataFrame) keeps the
        # first start and the last end of a phase, so only the part inside
        # this execution's own interval counts.
        return sum(covered([(p["phases"][name][0] * 1000, p["phases"][name][1] * 1000)],
                           a0, a1) / 1e6
                   for p in act["plans"] if name in p["phases"])

    plan = _plan_interval(act["plans"])
    exec_s = (a1 - max(a0, plan[1] * 1000) if plan else a1 - a0) / 1e6
    analysis = phase_s("analysis")
    if e.get("df_analysis_ms"):
        d0, d1 = e["df_analysis_ms"]
        analysis += covered([(d0 * 1000, d1 * 1000)], c0, c1) / 1e6
    task_s = sum(s["task_run_ms"] for s in act["stages"]) / 1000
    return {
        "query": e["query"], "pass": e["pass"], "ok": e["ok"],
        "construct.s": e["construct_s"], "construct.jobs": len(con["jobs"]),
        "plan.analysis_s": analysis,
        "plan.optimization_s": phase_s("optimization"),
        "plan.planning_s": phase_s("planning"),
        "plan.exchanges": sum(p["exchanges"] for p in act["plans"]),
        "plan.topk_nodes": sum(p["topk_nodes"] for p in act["plans"]),
        "exec.s": exec_s, "exec.jobs": len(act["jobs"]),
        "exec.stages": len(act["stages"]),
        "exec.tasks": sum(s["tasks"] for s in act["stages"]),
        "exec.task_s": task_s,
        "exec.task_cpu_s": sum(s["task_cpu_ns"] for s in act["stages"]) / 1e9,
        "exec.busy_ratio": busy_ratio(task_s, exec_s, cores) if exec_s > 0 else 0.0,
        "jvm.gc_s": e["gc_s"],
        "scan.input_mb": sum(s["input_bytes"] for s in both) / 1e6,
        "shuffle.write_mb": sum(s["shuffle_write_bytes"] for s in both) / 1e6,
        "shuffle.read_mb": sum(s["shuffle_read_bytes"] for s in both) / 1e6,
        "spill.mb": sum(s["spill_bytes"] for s in both) / 1e6,
        "sink.output_mb": sum(s["output_bytes"] for s in both) / 1e6,
        "cache.pins_built": e["pins_built"],
    }


# Per-pass layer metrics (name, unit, better); each is reported for the
# cold pass and as the median over the traced warm passes.
PASS_METRICS = [
    ("construct.s", "s", "lower"), ("construct.jobs", "count", "lower"),
    ("plan.analysis_s", "s", "lower"), ("plan.optimization_s", "s", "lower"),
    ("plan.planning_s", "s", "lower"), ("plan.exchanges", "count", "lower"),
    ("plan.topk_nodes", "count", "higher"), ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"), ("exec.task_s", "s", "lower"),
    ("exec.task_cpu_s", "s", "lower"), ("exec.busy_ratio", "ratio", "higher"),
    ("jvm.gc_s", "s", "lower"), ("scan.input_mb", "MB", "lower"),
    ("shuffle.write_mb", "MB", "lower"), ("shuffle.read_mb", "MB", "lower"),
    ("spill.mb", "MB", "lower"), ("cache.pins_built", "count", "lower"),
    ("cache.pins_live", "count", "lower"), ("cache.storage_mb", "MB", "lower"),
    ("sink.output_mb", "MB", "lower"), ("sink.files", "count", "lower"),
]
KERNELS = ["shingle_hashes", "minhash_signature", "simhash64", "winnow",
           "cosine_sim", "pq_reconstruct"]
RUN_METRICS = (
    [("session.build_s", "s", "lower"), ("tables.resolve_s", "s", "lower"),
     ("jvm.heap_live_mb", "MB", "lower"), ("cache.release_s", "s", "lower"),
     ("trace.overhead_ratio", "ratio", "lower")]
    + [(f"fn.{k}_rows_per_s", "1/s", "higher") for k in KERNELS])
PER_LAYER = ([(f"{side}.{name}", unit, better) for side in ("cold", "warm")
              for name, unit, better in PASS_METRICS] + RUN_METRICS)

END_TO_END = [
    ("setup_s", "s", "lower"), ("cold_pass_s", "s", "lower"),
    ("warm_pass_s", "s", "lower"), ("query_p50_s", "s", "lower"),
    ("query_tail_s", "s", "lower"), ("cpu_s", "s", "lower"),
    ("ok_ratio", "ratio", "higher"), ("stored_bytes_per_input_byte", "ratio", "lower"),
]


def pass_layers(p, rows, cores):
    """One traced pass's layer metrics from its query rows."""
    out = {name: sum(r[name] for r in rows) for name, _, _ in PASS_METRICS
           if name in rows[0] and name != "exec.busy_ratio"}
    out["exec.busy_ratio"] = (busy_ratio(out["exec.task_s"], out["exec.s"], cores)
                              if out["exec.s"] > 0 else 0.0)
    out["cache.pins_live"] = p["pins_live"]
    out["cache.storage_mb"] = p["storage_bytes"] / 1e6
    out["sink.files"] = p["sink_files"]
    return out


def warm_passes(run, traced):
    """The timed warm passes: neither the cold pass nor the check pass."""
    return [p for p in run["passes"]
            if p["pass"] > 0 and not p["check"] and p["traced"] == traced]


def end_to_end(run, setups, stored_ratio):
    """End-to-end metrics and their sample counts from an untraced run."""
    warm = warm_passes(run, False)
    warm_ids = {p["pass"] for p in warm}
    lat = [e["construct_s"] + e["action_s"] for e in run["execs"] if e["pass"] in warm_ids]
    tail_s, tail_pct = tail(lat)
    values = {
        "setup_s": median(setups), "cold_pass_s": run["passes"][0]["timed_s"],
        "warm_pass_s": median([p["timed_s"] for p in warm]),
        "query_p50_s": median(lat), "query_tail_s": tail_s,
        "cpu_s": median([p["cpu_s"] for p in warm]),
        "ok_ratio": ok_ratio(run["execs"]),
        "stored_bytes_per_input_byte": stored_ratio,
    }
    samples = {"setup_s": len(setups), "cold_pass_s": 1, "warm_pass_s": len(warm),
               "query_p50_s": len(lat), "query_tail_s": len(lat),
               "cpu_s": len(warm), "ok_ratio": len(run["execs"]),
               "stored_bytes_per_input_byte": 1}
    return values, samples, tail_pct


def per_layer(run, setup_stats, cores):
    """Per-layer metrics and per-query rows from a traced run."""
    traced_passes = {p["pass"] for p in run["passes"] if p["traced"]}
    rows = [query_row(e, cores) for e in run["execs"] if e["pass"] in traced_passes]
    by_pass = {}
    for r in rows:
        by_pass.setdefault(r["pass"], []).append(r)
    traced = [p for p in run["passes"] if p["traced"]]
    layers = {p["pass"]: pass_layers(p, by_pass[p["pass"]], cores) for p in traced}
    cold = layers[0]
    warm = [layers[p["pass"]] for p in traced if p["pass"] > 0]
    values = {}
    for name, _, _ in PASS_METRICS:
        values[f"cold.{name}"] = cold[name]
        values[f"warm.{name}"] = median([w[name] for w in warm])
    values["session.build_s"] = median([s["session_build_s"] for s in setup_stats])
    values["tables.resolve_s"] = median([s["tables_resolve_s"] for s in setup_stats])
    values["jvm.heap_live_mb"] = run["heap_live_bytes"] / 1e6
    values["cache.release_s"] = run["cache_release_s"]
    values["trace.overhead_ratio"] = (
        median([p["timed_s"] for p in warm_passes(run, True)])
        / median([p["timed_s"] for p in warm_passes(run, False)]))
    for k in KERNELS:
        kr = run["kernels"][k]
        values[f"fn.{k}_rows_per_s"] = kr["rows"] / kr["seconds"]
    return values, rows
