"""Metric rules of the benchmark: percentiles, failure accounting, span
self times and the per-layer summary of a traced run.

Times are seconds on one epoch clock. Benchmark spans (op, api.build,
action) come from the client at microsecond resolution; Spark's listener
events (jobs, stages, tasks, Catalyst phases) carry epoch milliseconds.
"""
import math
import statistics

MIN_BEYOND = 10

# self-time attribution order: an instant of an op's wall time belongs to
# the first layer whose spans cover it; what no layer covers is op.self
SELF_LAYERS = ("executor", "scheduler", "catalyst", "api", "collect")


def tail_percentile(samples, min_beyond=MIN_BEYOND):
    """The highest percentile with at least `min_beyond` samples beyond it,
    by nearest rank: the (min_beyond + 1)-th largest sample. Returns
    (percentile, value, n_beyond).

    With fewer than 2 * min_beyond samples no percentile has that many
    beyond it; the upper median is returned with its short count beyond,
    so the record shows that the tail is not supported."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = n - min_beyond if n >= 2 * min_beyond else n // 2 + 1
    return 100.0 * rank / n, xs[rank - 1], n - rank


def fail_counts(ops, oracle_failures):
    """Failed ops over attempted ops.

    `ops` are every op the client ran (warm-up, timed and traced passes);
    an op fails when it raised. `oracle_failures` maps a query to the reason
    its last result did not match the oracle (or was empty); each
    counts as one more failed op. Returns (failed, attempted, failures)
    where failures is a sorted list of (query, reason)."""
    failures = [(op["query"], "op %d: %s" % (op["op"], op["error"]))
                for op in ops if op["error"] is not None]
    failures += sorted(oracle_failures.items())
    return len(failures), len(ops), sorted(failures)


# ------------------------------------------------------------- intervals

def union(intervals):
    """Sorted, disjoint union of (start, end) intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def intersect(a, b):
    """Intersection of two interval sets."""
    a, b = union(a), union(b)
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if s < e:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def subtract(a, b):
    """Interval set a minus interval set b."""
    out = []
    b = union(b)
    for s, e in union(a):
        cur = s
        for bs, be in b:
            if be <= cur or bs >= e:
                continue
            if bs > cur:
                out.append((cur, bs))
            cur = max(cur, be)
        if cur < e:
            out.append((cur, e))
    return out


def self_times(op_span, layers):
    """Split an op's wall time among layers.

    `layers` maps each name in SELF_LAYERS to the op's spans of that layer
    (child spans may overlap each other and their parents). Each instant of
    `op_span` goes to the first layer in SELF_LAYERS covering it, so the
    returned self times plus "op" sum to the op's latency exactly."""
    remaining = [op_span]
    out = {}
    for name in SELF_LAYERS:
        covered = intersect(remaining, layers.get(name, []))
        out[name] = length(covered)
        remaining = subtract(remaining, covered)
    out["op"] = length(remaining)
    return out


def core_util(run_s, job_s, cores):
    """Share of the cores' time inside jobs that tasks spent running."""
    if job_s <= 0 or cores <= 0:
        return 0.0
    return run_s / (job_s * cores)


# ------------------------------------------------------ per-layer summary

def _ms(v):
    return v / 1e3


def _clamp(span, lo, hi):
    s = min(max(span[0], lo), hi)
    return (s, max(s, min(span[1], hi)))


def assign_events(ops, events):
    """Group listener events by the op that caused them.

    Jobs carry the job group the client set ("op-<id>"); a job without one
    (none are expected) goes to the op whose wall time holds its start.
    Stages and tasks follow their job. A Catalyst record goes to the op
    whose wall time holds the end of its last phase."""
    by_op = {op["op"]: {"jobs": [], "stages": [], "tasks": [], "qe": []}
             for op in ops}
    spans = sorted((op["start_us"] / 1e6, op["end_us"] / 1e6, op["op"])
                   for op in ops)

    def at(t):
        for s, e, oid in spans:
            if s <= t <= e:
                return oid
        return None

    stage_op = {}
    for ev in events:
        if ev["ev"] != "job":
            continue
        g = ev.get("group")
        oid = int(g[3:]) if g and g.startswith("op-") else at(_ms(ev["start_ms"]))
        if oid in by_op:
            by_op[oid]["jobs"].append(ev)
            for sid in ev["stages"]:
                stage_op[sid] = oid
    for ev in events:
        kind = ev["ev"]
        if kind == "stage" and stage_op.get(ev["stage"]) in by_op:
            by_op[stage_op[ev["stage"]]]["stages"].append(ev)
        elif kind == "task" and stage_op.get(ev["stage"]) in by_op:
            by_op[stage_op[ev["stage"]]]["tasks"].append(ev)
        elif kind == "qe":
            ends = [ev[p][1] for p in ("analysis", "optimization", "planning")
                    if ev.get(p)]
            oid = at(_ms(max(ends))) if ends else None
            if oid in by_op:
                by_op[oid]["qe"].append(ev)
    return by_op


def op_layers(op, ev):
    """Per-layer figures of one op from its own spans and events."""
    start, build, end = op["start_us"] / 1e6, op["build_us"] / 1e6, op["end_us"] / 1e6
    jobs = [_clamp((_ms(j["start_ms"]), _ms(j["end_ms"])), start, end)
            for j in ev["jobs"]]
    tasks = [_clamp((_ms(t["launch_ms"]), _ms(t["finish_ms"])), start, end)
             for t in ev["tasks"]]
    phases = {"analysis": [], "optimization": [], "planning": []}
    for q in ev["qe"]:
        for p in phases:
            if q.get(p):
                phases[p].append(_clamp((_ms(q[p][0]), _ms(q[p][1])), start, end))
    catalyst = [s for spans in phases.values() for s in spans]
    selfs = self_times((start, end), {
        "executor": tasks, "scheduler": jobs, "catalyst": catalyst,
        "api": [(start, build)], "collect": [(build, end)]})

    submit = {s["stage"]: _ms(s["submit_ms"]) for s in ev["stages"]
              if s["submit_ms"] > 0}
    ts = ev["tasks"]
    useful = sum(1 for t in ts if t["in_records"] + t["out_records"] +
                 t["sw_records"] + t["sr_records"] > 0)
    write_jobs = []
    written = {t["stage"] for t in ts if t["out_bytes"] > 0}
    for j, span in zip(ev["jobs"], jobs):
        if written.intersection(j["stages"]):
            write_jobs.append(span)
    build_jobs = [s for s in jobs if start <= s[0] <= build]
    job_s = length(jobs)
    run_s = sum(t["run_ms"] for t in ts) / 1e3
    return {
        "latency_s": end - start,
        "api.build_s": build - start,
        "api.build_self_s": (build - start) - length(intersect([(start, build)], jobs)),
        "api.build_jobs": len(build_jobs),
        "catalyst.analysis_s": sum(e - s for s, e in phases["analysis"]),
        "catalyst.optimization_s": sum(e - s for s, e in phases["optimization"]),
        "catalyst.planning_s": sum(e - s for s, e in phases["planning"]),
        "catalyst.executions": len(ev["qe"]),
        "scheduler.jobs": len(ev["jobs"]),
        "scheduler.stages": len(ev["stages"]),
        "scheduler.tasks": len(ts),
        "scheduler.job_s": job_s,
        "scheduler.task_wait_s": sum(max(0.0, _ms(t["launch_ms"]) - submit[t["stage"]])
                                     for t in ts if t["stage"] in submit),
        "useful_tasks": useful,
        "executor.run_s": run_s,
        "executor.cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
        "executor.gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
        "shuffle.write_bytes": sum(t["sw_bytes"] for t in ts),
        "shuffle.read_bytes": sum(t["sr_bytes"] for t in ts),
        "shuffle.spill_bytes": sum(t["spill_bytes"] for t in ts),
        "shuffle.fetch_wait_s": sum(t["fetch_wait_ms"] for t in ts) / 1e3,
        "io.read_bytes": sum(t["in_bytes"] for t in ts),
        "io.write_bytes": sum(t["out_bytes"] for t in ts),
        "io.write_job_s": length(write_jobs),
        "collect.rows": max(op["rows"], 0),
        "collect.result_bytes": sum(t["result_bytes"] for t in ts),
        "collect.driver_s": selfs["collect"],
        "storage.blocks": op["storage_blocks"],
        "storage.bytes": op["storage_bytes"],
        "op.self_s": selfs["op"],
        **{f"self.{k}_s": v for k, v in selfs.items() if k != "op"},
    }


def layer_summary(ops, events, cores, untraced_p50):
    """Per-layer metrics of a traced window: means per op, ratios of totals."""
    by_op = assign_events(ops, events)
    rows = [op_layers(op, by_op[op["op"]]) for op in ops]
    n = len(rows)
    total = {k: sum(r[k] for r in rows) for k in rows[0]}
    out = {k: v / n for k, v in total.items()
           if k not in ("latency_s", "useful_tasks")}
    out["scheduler.useful_task_ratio"] = (
        total["useful_tasks"] / total["scheduler.tasks"]
        if total["scheduler.tasks"] else 0.0)
    out["executor.core_util"] = core_util(
        total["executor.run_s"], total["scheduler.job_s"], cores)
    # time inside graft's calls that no Spark listener span explains
    out["trace.unattributed_share"] = (
        total["self.api_s"] + total["self.collect_s"] + total["op.self_s"]) / total["latency_s"]
    out["trace.overhead"] = statistics.median(r["latency_s"] for r in rows) - untraced_p50
    additivity = max(abs(sum(r[f"self.{k}_s"] for k in SELF_LAYERS)
                         + r["op.self_s"] - r["latency_s"]) for r in rows)
    return out, additivity
