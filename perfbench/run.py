"""The repository's benchmark: one workload, one seed, one fresh driver.

    python3 perfbench/run.py --workload routing_mix --seed 1 --seconds 45 --trace 0

Prepares the inputs (generated tables and pinned oracle digests, cached
per checkout), gives the run its own empty index root, Spark local dirs,
warehouse and temp root, starts ``perfbench/driver.py`` in a new process
group on ``local[<cores>]``, waits until every process of that group has
ended, removes the run's directories and prints the metrics.  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import shlex
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, procfs  # noqa: E402
from perfbench.spans import self_time_by_name, subtree  # noqa: E402
from perfbench.stats import tail_percentile  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

PROGRAM = "etl_rf_matrix_controller_spark"
RUN_LIMIT_S = 170
OUT_DIR = os.path.join(inputs.HERE, "out")

# Per-query layer counters: summed per pass.
QUERY_LAYERS = (
    "operators.build_s", "operators.build_jobs", "operators.build_tasks",
    "operators.build_task_s",
    "spark.catalyst.analysis_ms", "spark.catalyst.optimization_ms",
    "spark.catalyst.planning_ms",
    "spark.exec.action_s", "spark.exec.jobs", "spark.exec.stages",
    "spark.exec.tasks", "spark.exec.task_s", "spark.exec.shuffle_read_mb",
    "spark.exec.shuffle_write_mb", "spark.exec.spill_mb",
    "plans.gram_index.tables_built", "plans.gram_index.bytes_written_mb",
    "plans.gram_index.deltas_published", "plans.gram_index.generations_flipped",
    "streaming.queries", "streaming.batches", "streaming.input_rows",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.state_rows",
    "streaming.state_mem_mb", "jvm.gc_s",
)
# Read once at the end of a pass.
PASS_LAYERS = ("streaming.batch_ms_p50", "jvm.rss_peak_mb", "spark.blocks.retained_mb")
SETUP_LAYERS = ("session.start_s", "plans.registry.load_s", "sources.warm_scan_s")
# Cold-pass copies of the counters a cold pass should move.
COLD_LAYERS = (
    "operators.build_s", "spark.exec.action_s", "jvm.gc_s",
    "plans.gram_index.tables_built", "plans.gram_index.bytes_written_mb",
    "plans.gram_index.deltas_published", "plans.gram_index.generations_flipped",
)


UNITS = {"trace.span_coverage": "ratio", "streaming.batch_ms_p50": "ms"}


def _unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


def _stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Wait for every process of the group to end; terminate, then kill,
    whatever outlives the grace period."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while procfs.live_members(pgid):
        if time.monotonic() > deadline:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            sig, deadline = signal.SIGKILL, time.monotonic() + grace_s
        time.sleep(0.05)


def _run_driver(args, tables: str, run_dir: str, limit_s: float) -> dict:
    dirs = {k: os.path.join(run_dir, k) for k in ("index", "local", "warehouse", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, env.get("PYTHONPATH")))),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_INDEX_DIR": dirs["index"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        # keep the JVMs' temp files inside the run dir and their perf
        # counters off: spark-submit's launcher JVM, then the driver JVM
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['tmp']} "
                      "-XX:-UsePerfData", "pyspark-shell"]),
    })
    cmd = [sys.executable, "-m", "perfbench.driver",
           "--workload", args.workload, "--seed", str(args.seed),
           "--trace", str(args.trace),
           "--data", tables,
           "--warehouse", dirs["warehouse"], "--out", out]
    log_path = os.path.join(run_dir, "driver.log")
    with open(log_path, "w") as log:
        env["PERFBENCH_LAUNCH"] = repr(time.monotonic())
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            code = proc.wait()
        finally:
            _stop_group(proc.pid)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise RuntimeError(f"driver exited with code {code}")
    with open(out) as fh:
        return json.load(fh)


def warm_passes(result: dict, traced: bool) -> list[dict]:
    """Warm passes, traced or untraced ones."""
    return [p for p in result["passes"] if p["kind"] == "warm" and p["traced"] == traced]


def end_to_end(result: dict) -> tuple[dict, dict]:
    """End-to-end metrics of an untraced run, plus the query tail (kept
    out of the metrics: a run can have too few samples for it)."""
    warm = warm_passes(result, traced=False)
    samples = [q["wall_s"] for p in warm for q in p["queries"] if q["ok"]]
    metrics = {
        "setup_s": result["setup"]["setup_s"],
        "cold_pass_s": result["passes"][0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "query_p50_s": statistics.median(samples),
    }
    tail = tail_percentile(samples)
    return metrics, {"samples": len(samples), "tail": tail}


def per_layer(result: dict) -> dict:
    """Per-layer metrics of a traced run: medians over its traced warm
    passes of each pass's sums, cold-pass copies, set-up split and the
    tracing overhead (traced minus untraced median warm pass)."""
    passes = result["passes"]
    traced, untraced = warm_passes(result, traced=True), warm_passes(result, traced=False)

    def pass_sums(p: dict) -> dict:
        sums = {k: sum(q["layers"][k] for q in p["queries"] if "layers" in q)
                for k in QUERY_LAYERS}
        return {**sums, **p["layers"]}

    warm_sums = [pass_sums(p) for p in traced]
    metrics = {k: result["setup"][k] for k in SETUP_LAYERS}
    for k in QUERY_LAYERS + PASS_LAYERS:
        metrics[k] = statistics.median(s[k] for s in warm_sums)
    cold = pass_sums(passes[0])
    metrics.update({f"cold.{k}": cold[k] for k in COLD_LAYERS})
    metrics["peak_rss_mb"] = result["peak_rss_mb"]
    metrics["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                                   - statistics.median(p["wall_s"] for p in untraced))
    metrics["trace.span_coverage"] = statistics.median(
        sum(p["span_s"].values()) / p["wall_s"] for p in traced)
    return metrics


def _print_report(result: dict, traced: bool, tail_info: dict | None) -> None:
    print(f"workload {result['workload']} seed {result['seed']} run {result['run_id']}")
    for p in result["passes"]:
        print(f"  pass {p['index']} {p['kind']:4s} {'traced' if p['traced'] else 'untraced'}"
              f" {p['wall_s']:.3f} s, cpu {p['cpu_s']:.2f} s, host steal {p['steal']:.1%}")
    for p in result["passes"]:
        for q in p["queries"]:
            if not q["ok"]:
                print(f"  query FAILED pass {p['index']} {q['name']}: {q['error'].strip()[-300:]}")
            elif not q.get("check", {"ok": True})["ok"]:
                print(f"  check FAILED {q['name']}: {q['check']['error'].strip()[-300:]}")
    checks = [q["check"] for p in result["passes"] for q in p["queries"] if "check" in q]
    print(f"  outputs checked {len(checks)}, against an oracle {sum(c['oracle'] for c in checks if 'oracle' in c)}")
    if tail_info is not None:
        tail = tail_info["tail"]
        print(f"  warm query samples {tail_info['samples']}; tail "
              + (f"p{tail[0]:.1f} = {tail[1]:.4f} s" if tail else
                 "omitted (fewer than 20 samples)"))
    if traced:
        spans = result["spans"]
        pass_spans = [s for s in spans if s["name"] == "pass"]
        warm_spans = [s for s in pass_spans
                      if s["attrs"]["kind"] == "warm" and s["attrs"]["traced"]]
        cold = self_time_by_name(subtree(spans, pass_spans[0]["id"]))
        per_warm = [self_time_by_name(subtree(spans, s["id"])) for s in warm_spans]
        print("  self time by span name, s: cold pass / mean traced warm pass")
        for name in sorted(cold):
            mean = sum(w.get(name, 0.0) for w in per_warm) / len(per_warm)
            print(f"    {name:14s} {cold[name]:9.4f} / {mean:9.4f}")
        print("  per query, last traced warm pass "
              "(build s / plan s / action s / jobs in build+action):")
        for q in warm_passes(result, traced=True)[-1]["queries"]:
            if "layers" in q:
                s, layers = q["span_s"], q["layers"]
                print(f"    {q['name']:32s} {s['build']:.3f} / {s['plan']:.3f} / "
                      f"{s['action']:.3f} / {layers['operators.build_jobs']:.0f}+"
                      f"{layers['spark.exec.jobs']:.0f}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measuring time of BENCHMARK.json; a run measures a fixed "
                         "number of passes, sized to take about this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, PROGRAM, "__init__.py")):
        print(f"the program ({PROGRAM}) is not in {ROOT}", file=sys.stderr)
        return 2
    tables = inputs.ensure_tables()

    run_dir = os.path.join(inputs.WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        limit = RUN_LIMIT_S - (time.monotonic() - started)
        result = _run_driver(args, tables, run_dir, max(limit, 60.0))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    runs = [q for p in result["passes"] for q in p["queries"]]
    attempted = len(runs)
    failed = sum(not q["ok"] or not q.get("check", {"ok": True})["ok"] for q in runs)
    checked = {q["name"] for q in runs if q.get("check", {}).get("ok")}
    if args.trace:
        metrics, tail_info = per_layer(result), None
        os.makedirs(OUT_DIR, exist_ok=True)
        trace_path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump(result, fh)
        print(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics, tail_info = end_to_end(result)
    _print_report(result, bool(args.trace), tail_info)
    print(f"  query_fail_ratio {failed / attempted:.4f} ({failed} of {attempted})")
    print(json.dumps({
        "correct": failed == 0 and checked == set(WORKLOADS[args.workload].queries),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
