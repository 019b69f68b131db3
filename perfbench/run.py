#!/usr/bin/env python3
"""graft benchmark: closed-loop runs of SparkEntry queries, checked against
the DuckDB oracle.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 7 --trace 0

Run from the repository root. Workloads, their frozen query lists, the
queries left out (with reasons) and the layer-to-metric map are in
perfbench/workloads.json; metric names, units and bounds in BENCHMARK.json.
The benchmark's own tests: python3 -m unittest discover -s perfbench/tests.
The first run builds graft and the benchmark client into .bench_build/
(sbt, offline); later runs reuse the build while the sources are unchanged.
Each run:

  1. copies the workload's inputs (generated once per build directory by
     perfbench/gen.py with a fixed data seed) into a directory of its own,
     whose name also keys graft's staging directory, so no other process
     stages into it;
  2. times set-up (process start until the session is ready and the inputs
     are verified) in a fresh JVM, then starts the client JVM, whose own
     set-up is a second sample; the client runs local[<cores>] with one
     thread, one cold pass over the workload's queries, one untimed warm
     pass, and then whole timed passes, each in an order drawn from --seed,
     until --seconds have passed (a traced run alternates untraced passes with passes under
     Spark listeners);
  3. checks every query's result from the last pass against its oracle SQL;
  4. prints a report and, as the last line, one JSON object with
     `correct`, `attempted`, `failed` and the end-to-end metrics
     (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

if not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
    raise SystemExit("tools/check.py (the oracle's comparison rule) not found: "
                     "run from the root of a graft checkout")

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DATA_SEED = 42
SETUPS = 2
JVM_HEAP = "3g"
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 800
STAGE_ROOT = "/tmp/graft_stage"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def validate(spec, catalog):
    """Fail loudly unless every query is in exactly one workload or excluded,
    and every listed query exists with oracle SQL."""
    names = catalog["queries"]
    oracle_sql = catalog["oracle"]
    seen = {}
    lists = [(w, spec["workloads"][w]["queries"]) for w in spec["workloads"]]
    lists.append(("excluded", list(spec["excluded"])))
    for owner, qs in lists:
        for q in qs:
            if q in seen:
                raise SystemExit(f"{q} is listed in both {seen[q]} and {owner}")
            seen[q] = owner
            if q not in names:
                raise SystemExit(f"{owner} lists {q}, which SparkEntry.queries lacks")
            if q not in oracle_sql:
                raise SystemExit(f"{owner} lists {q}, which has no oracleSql")
    unplaced = sorted(set(names) - set(seen))
    if unplaced:
        raise SystemExit(f"queries in no workload and not excluded: {unplaced}")


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft with the client; returns (classpath, catalog)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("graft sources (src/main/scala) not found: run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "stamp")
    cp_path = os.path.join(BUILD, "classpath.txt")
    cat_path = os.path.join(BUILD, "catalog.json")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        fresh = (os.path.exists(stamp_path) and os.path.exists(cat_path)
                 and open(stamp_path).read() == stamp)
        if not fresh:
            log("building graft and the benchmark client (sbt)")
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            p = subprocess.run(
                ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                text=True, timeout=BUILD_BUDGET_S)
            lines = [l for l in p.stdout.splitlines() if "sbt-target" in l and ".jar" in l]
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stdout[-4000:])
                raise SystemExit("build failed")
            with open(cp_path, "w") as f:
                f.write(lines[-1].strip())
            subprocess.run(java_cmd(open(cp_path).read(), BUILD) + ["catalog", cat_path],
                           check=True, timeout=120, stdout=subprocess.DEVNULL)
            with open(stamp_path, "w") as f:
                f.write(stamp)
    with open(cat_path) as f:
        return open(cp_path).read(), json.load(f)


def java_cmd(classpath, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graftbench.Harness"]


# -------------------------------------------------------------------- run

def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def inputs(scale):
    """The workload's generated inputs, made once per build directory."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(BUILD, "inputs", f"sf{scale}-{key}")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(path, "manifest.json")):
            shutil.rmtree(path, ignore_errors=True)
            gen.write(path, scale, DATA_SEED)
    return path


def jvm(classpath, mode, args, run_dir, deadline):
    """Runs one Harness JVM to completion; returns its standard output."""
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(classpath, work) + [mode, "--work", work,
                                       "--cores", str(len(os.sched_getaffinity(0))), *args]
    log_path = os.path.join(run_dir, f"{mode}.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=lf, text=True)
        try:
            stdout, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"the {mode} JVM exceeded the {RUN_BUDGET_S} s run budget")
    if proc.returncode != 0:
        with open(log_path) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"the {mode} JVM exited with {proc.returncode}")
    return stdout


def run_client(classpath, spec, args, run_dir, data_dir, deadline):
    """Times SETUPS - 1 set-ups in their own JVMs, then runs the client,
    whose cold start is one more set-up sample."""
    setups = []
    for _ in range(SETUPS - 1):
        stdout = jvm(classpath, "setup", ["--data", data_dir], run_dir, deadline)
        setups += [float(l.split()[1]) for l in stdout.splitlines() if l.startswith("SETUP_S ")]
    out = os.path.join(run_dir, "out")
    jvm(classpath, "run", [
        "--data", data_dir, "--out", out,
        "--queries", ",".join(spec["queries"]), "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace)], run_dir, deadline)
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    summary["setup_s"] = setups + [summary["setup_s"]]
    if len(summary["setup_s"]) != SETUPS:
        raise SystemExit(f"expected {SETUPS} set-up samples, got {summary['setup_s']}")
    return summary, read_jsonl(os.path.join(out, "ops.jsonl")), \
        read_jsonl(os.path.join(out, "events.jsonl")), out


def end_to_end(summary, ops):
    timed = [op for op in ops if op["phase"] == "timed"]
    lat = [(op["end_us"] - op["start_us"]) / 1e6 for op in timed]
    pct, tail, beyond = metrics.tail_percentile(lat)
    values = {
        "setup_s": statistics.median(summary["setup_s"]),
        "warmup_s": summary["warmup_s"],
        "throughput_qps": len(timed) / summary["timed_wall_s"],
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "heap_retained_mb": summary["heap_retained_mb"],
    }
    detail = {"timed_ops": len(timed), "tail_percentile": pct,
              "tail_samples_beyond": beyond, "setup_samples_s": summary["setup_s"]}
    return values, detail


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec_all = load_workloads()
    if args.workload not in spec_all["workloads"]:
        raise SystemExit(f"unknown workload {args.workload}")
    spec = spec_all["workloads"][args.workload]
    classpath, catalog = build()
    validate(spec_all, catalog)
    deadline = time.time() + RUN_BUDGET_S   # a run that built gets extra time

    # the data directory's name keys graft's staging directory
    # (/tmp/graft_stage/<name>); that entry is a link into this run's own
    # directory, so staged files stay in the checkout and no other process
    # stages into them
    tag = f"gb{os.getpid()}x{int(time.time() * 1000) % 10**9}"
    run_dir = os.path.join(BUILD, "runs", tag)
    data_dir = os.path.join(run_dir, tag)
    stage_dir = os.path.join(run_dir, "stage")
    stage_link = os.path.join(STAGE_ROOT, tag)
    shutil.copytree(inputs(spec["scale"]), data_dir)
    os.makedirs(stage_dir)
    os.makedirs(STAGE_ROOT, exist_ok=True)
    os.symlink(stage_dir, stage_link)
    try:
        summary, ops, events, out = run_client(
            classpath, spec, args, run_dir, data_dir, deadline)
        last_ok = {op["query"]: op["error"] is None
                   for op in ops if op["phase"] != "warmup"}
        checked = [q for q, ok in last_ok.items() if ok]
        log(f"client done {time.time() - t_start:.1f} s into the run; checking {len(checked)} results")
        oracle_failures = oracle.check(checked, catalog["oracle"], data_dir,
                                       stage_dir, os.path.join(out, "results"))
        if args.trace:   # keep the last traced run's spans for inspection
            keep = os.path.join(BUILD, "last_trace", args.workload)
            os.makedirs(keep, exist_ok=True)
            for name in ("ops.jsonl", "events.jsonl"):
                shutil.copy(os.path.join(out, name), keep)
    finally:
        os.unlink(stage_link)
        if not os.listdir(STAGE_ROOT):
            os.rmdir(STAGE_ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed, attempted, failures = metrics.fail_counts(ops, oracle_failures)
    values, detail = end_to_end(summary, ops)
    correct = failed == 0
    print(f"workload {args.workload}: {len(spec['queries'])} queries at sf{spec['scale']}, "
          f"seed {args.seed}, local[{summary['cores']}], one client, closed loop")
    for k, v in values.items():
        unit = next(m["unit"] for m in bench["end_to_end"] if m["name"] == k)
        print(f"  {k:<18} {v:.6g} {unit}")
    print(f"  {'fail_ratio':<18} {failed / attempted:.6g} "
          f"({failed} failed / {attempted} attempted)")
    print(f"  tail = p{detail['tail_percentile']:g} of {detail['timed_ops']} timed ops, "
          f"{detail['tail_samples_beyond']} beyond"
          + ("" if detail["tail_samples_beyond"] >= metrics.MIN_BEYOND else
             f" (tail not supported: fewer than {2 * metrics.MIN_BEYOND} timed ops, "
             "so latency_tail_s is the upper median)")
          + "; setup samples " + ", ".join(f"{s:.3f}" for s in detail["setup_samples_s"]) + " s")
    per_query, cold = {}, {}
    for op in ops:
        lat = (op["end_us"] - op["start_us"]) / 1e6
        if op["phase"] == "warmup":
            cold[op["query"]] = lat
        elif op["phase"] == "timed" and op["error"] is None:
            per_query.setdefault(op["query"], []).append(lat)
    for q, lat in sorted(per_query.items()):
        print(f"  {q:<24} median {statistics.median(lat):.4f} s over {len(lat)} timed ops"
              f" (cold {cold[q]:.3f} s)")
    for q, reason in failures:
        print(f"  FAILED {q}: {reason}")

    if args.trace:
        traced = [op for op in ops if op["phase"] == "traced"]
        untraced_p50 = values["latency_p50_s"]
        layer, additivity = metrics.layer_summary(traced, events, summary["cores"], untraced_p50)
        if additivity > 1e-6:
            correct = False
            print(f"  self times do not add up to latency (off by {additivity:.3g} s)")
        print(f"  traced ops {len(traced)}; unattributed share "
              f"{layer['trace.unattributed_share']:.3f}; trace.overhead "
              f"{layer['trace.overhead']:.4f} s")
        result_metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                          for m in bench["per_layer"]}
    else:
        result_metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                          for m in bench["end_to_end"]}
    print(f"  run wall {time.time() - t_start:.1f} s")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}))


if __name__ == "__main__":
    main()
