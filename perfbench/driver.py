"""One measured run inside a fresh Spark driver process.

Started by ``perfbench/run.py``, which owns the run's directories and
passes the moment it launched this process in ``PERFBENCH_LAUNCH``
(``time.monotonic``).  Writes everything it measured as JSON to ``--out``.

Order of work:

1. Set-up, one contiguous timed block: import and load the query
   registry, start the session, scan ``lineitem`` once.
2. The oracle digests of the workload's queries, pinned on the first run
   in a checkout and read from the cache after that (untimed).
3. Passes over the workload's queries, each pass's order permuted by the
   seed: one cold pass, then ``WARM_PASSES`` warm passes.  Every query is
   timed from outside at three boundaries: the registry call (``build``),
   Catalyst planning (``plan``, traced passes only) and the final
   ``noop`` write (``action``).
4. Output check, untimed, in the last pass: each query's frame is
   collected after its timed action and its digest compared with the
   pinned one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from perfbench import procfs
from perfbench.spans import Tracer, duration
from perfbench.workloads import WORKLOADS, pass_orders

# Warm passes per run, all counted.  A fixed count keeps every run equally
# far into its JIT warm-up.  Traced runs alternate traced and untraced
# passes from the cold pass on, so their warm passes include both kinds and
# the run measures its own tracing overhead.
WARM_PASSES = 7


def _setup(data: str, warehouse: str) -> tuple[object, dict]:
    launched = float(os.environ["PERFBENCH_LAUNCH"])
    from etl_rf_matrix_controller_spark.plans import registry

    registry.load_all()
    t_loaded = time.monotonic()
    from etl_rf_matrix_controller_spark.session import get_spark

    spark = get_spark(app_name="perfbench",
                      extra_confs={"spark.sql.warehouse.dir": warehouse})
    t_session = time.monotonic()
    from etl_rf_matrix_controller_spark.sources.tables import load_table

    load_table(spark, data, "lineitem").count()
    t_scanned = time.monotonic()
    return spark, {
        "setup_s": t_scanned - launched,
        "plans.registry.load_s": t_loaded - launched,
        "session.start_s": t_session - t_loaded,
        "sources.warm_scan_s": t_scanned - t_session,
    }


def _share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU ticks stolen by the hypervisor between two reads."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


class Runner:
    """Runs passes of one workload and records spans and, on traced
    passes, each query's layer counters."""

    def __init__(self, spark, data: str, index_root: str, traced: bool) -> None:
        from etl_rf_matrix_controller_spark.plans import registry

        self.spark = spark
        self.data = data
        self.index_root = index_root
        self.queries = registry.QUERIES
        self.tracer = Tracer()
        self.epoch_offset = time.time() - time.perf_counter()
        self.probe = self.streams = None
        if traced:
            from perfbench import probes

            self.probe = probes.SparkProbe(spark)
            self.streams = probes.StreamProbe()

    def run_pass(self, index: int, order: list[str], traced: bool,
                 pinned: dict | None = None) -> dict:
        """One pass over ``order``.  With ``pinned`` oracle digests, each
        query's frame is also collected and checked after its timed
        action, in a ``check`` span that the pass wall excludes."""
        kind = "cold" if index == 0 else "warm"
        records, check_s = [], 0.0
        cpu0, host0 = procfs.group_cpu_s(os.getpgrp()), procfs.host_cpu_ticks()
        if traced:  # listen only while tracing, so untraced passes stay so
            self.spark.streams.addListener(self.streams)
        with self.tracer.span("pass", index=index, kind=kind, traced=traced) as span:
            for name in order:
                rec, df = self._run_query(name, traced)
                if pinned is not None and rec["ok"]:
                    with self.tracer.span("check", query=name) as cspan:
                        rec["check"] = self._check(name, df, pinned.get(name))
                    check_s += duration(cspan)
                records.append(rec)
        if traced:
            self.spark.streams.removeListener(self.streams)
        rec = {"index": index, "kind": kind, "traced": traced,
               "wall_s": duration(span) - check_s,
               "cpu_s": procfs.group_cpu_s(os.getpgrp()) - cpu0,
               "steal": _share(host0, procfs.host_cpu_ticks()), "queries": records}
        if traced:
            from perfbench import probes

            batches = [b for q in records for b in q.pop("batches")]
            rec["layers"] = {
                "streaming.batch_ms_p50": probes.batch_ms_p50(batches),
                "jvm.rss_peak_mb": probes.proc_peak_rss_mb(self.probe.jvm_pid),
                "spark.blocks.retained_mb": self.probe.retained_block_mb(),
            }
            rec["span_s"] = {k: sum(q["span_s"].get(k, 0.0) for q in records)
                             for k in ("build", "plan", "action")}
        return rec

    def _run_query(self, name: str, traced: bool) -> tuple[dict, object]:
        rec, df = {"name": name, "ok": True}, None
        with self.tracer.span("query", query=name) as qspan:
            if traced:
                from perfbench import probes

                job0, gc0 = self.probe.next_job_id(), self.probe.gc_s()
                files0 = probes.index_files(self.index_root)
            spans = {}
            try:
                with self.tracer.span("build") as spans["build"]:
                    df = self.queries[name](self.spark, self.data)
                if traced:
                    job1 = self.probe.next_job_id()
                    with self.tracer.span("plan") as spans["plan"]:
                        catalyst = probes.catalyst_ms(df)
                with self.tracer.span("action") as spans["action"]:
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # one failing query must not end the run
                rec["ok"] = False
                rec["error"] = traceback.format_exc(limit=3)[-2000:]
            self.spark.catalog.clearCache()
            rec["span_s"] = {k: duration(s) for k, s in spans.items()}
            if traced:
                self.probe.drain_listeners()
                rec["batches"] = self._stream_batches(spans.get("build", qspan))
                if rec["ok"]:
                    rec["layers"] = self._query_layers(
                        spans, catalyst, job0, job1, gc0, files0, rec["batches"])
        rec["wall_s"] = duration(qspan)
        return rec, df

    def _check(self, name: str, df, want: dict | None) -> dict:
        """Compare ``df``'s collected result with the pinned oracle digest;
        a query without an oracle must return at least one row."""
        from perfbench.inputs import spark_digest

        try:
            digest, rows = spark_digest(df)
        except Exception:  # a failing check is recorded, not fatal
            return {"ok": False, "error": traceback.format_exc(limit=3)[-2000:]}
        finally:
            self.spark.catalog.clearCache()
        ok = digest == want["digest"] if want else rows > 0
        out = {"ok": ok, "rows": rows, "oracle": bool(want)}
        if not ok:
            out["error"] = f"{rows} rows, digest {digest[:12]}; oracle " + \
                (f"{want['rows']} rows, digest {want['digest'][:12]}" if want else "none")
        return out

    def _stream_batches(self, build_span: dict) -> list[dict]:
        """This query's micro-batches, recorded as child spans of its build."""
        batches = self.streams.take()
        for b in batches:
            start = b["start_epoch"] - self.epoch_offset
            self.tracer.add("stream_batch", start, start + b["trigger_ms"] / 1000.0,
                            build_span["id"], batch_id=b["batch_id"])
        return batches

    def _query_layers(self, spans, catalyst, job0, job1, gc0, files0, batches) -> dict:
        from perfbench import probes

        job2 = self.probe.next_job_id()
        build = self.probe.jobs(job0, job1)
        action = self.probe.jobs(job1, job2)
        out = {
            "operators.build_s": duration(spans["build"]),
            "operators.build_jobs": build["jobs"],
            "operators.build_tasks": build["tasks"],
            "operators.build_task_s": build["task_s"],
            "spark.exec.action_s": duration(spans["action"]),
            "jvm.gc_s": self.probe.gc_s() - gc0,
        }
        out.update({f"spark.catalyst.{k}_ms": v for k, v in catalyst.items()})
        out.update({f"spark.exec.{k}": v for k, v in action.items()})
        index = probes.index_counters(files0, probes.index_files(self.index_root))
        out.update({f"plans.gram_index.{k}": v for k, v in index.items()})
        out.update({f"streaming.{k}": v for k, v in probes.stream_counters(batches).items()})
        return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    spark, setup = _setup(args.data, args.warehouse)
    spark.sparkContext.setLogLevel("ERROR")
    workload = WORKLOADS[args.workload]
    runner = Runner(spark, args.data, os.environ["SPARK_GRAFT_INDEX_DIR"], bool(args.trace))

    from etl_rf_matrix_controller_spark.plans import registry
    from perfbench import inputs

    pinned = inputs.oracle_digests(args.data, list(workload.queries), registry.ORACLES)
    passes = []
    orders = pass_orders(workload.queries, args.seed)
    with runner.tracer.span("workload", workload=workload.name):
        for index in range(WARM_PASSES + 1):  # pass 0 is cold
            last = index == WARM_PASSES  # the last pass also checks the outputs
            passes.append(runner.run_pass(
                index, next(orders), traced=bool(args.trace) and index % 2 == 0,
                pinned=pinned if last else None))

    from perfbench import probes

    peak_rss = probes.proc_peak_rss_mb(
        int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    result = {
        "workload": workload.name,
        "seed": args.seed,
        "setup": setup,
        "passes": passes,
        "peak_rss_mb": peak_rss + probes.python_peak_rss_mb(),
        "spans": runner.tracer.spans if args.trace else [],
        "run_id": runner.tracer.run_id,
    }
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
