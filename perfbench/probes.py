"""Layer probes for the traced run.

Every probe reads state from outside the program: Spark's status store and
job counter, the final frame's Catalyst phase tracker, a streaming listener
registered by the benchmark for traced passes, the files under the run's
index root, the JVM's management beans and ``/proc``.  None of them runs
during an untraced pass, so the end-to-end numbers carry no probe cost;
an untraced run reads only the end-of-run memory peaks.
"""

from __future__ import annotations

import os
import re
import resource
import statistics
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024
BUS_TIMEOUT_MS = 30_000
CATALYST_PHASES = ("analysis", "optimization", "planning")
JOB_COUNTERS = ("jobs", "stages", "tasks", "task_s",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb")


class SparkProbe:
    """Job, stage, block and GC counters of one Spark driver."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._jsc = jsc
        self._gc_beans = list(
            sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())

    def next_job_id(self) -> int:
        """Id the next submitted job will get; jobs submitted between two
        reads belong to the code that ran between them."""
        return int(self._dag.nextJobId())

    def jobs(self, first: int, end: int) -> dict[str, float]:
        """Summed counters of jobs ``first .. end - 1``; skipped stages
        (shuffle output reused) are not counted."""
        self._bus.waitUntilEmpty(BUS_TIMEOUT_MS)
        out = dict.fromkeys(JOB_COUNTERS, 0.0)
        seen: set[int] = set()
        for job_id in range(first, end):
            out["jobs"] += 1
            stage_ids = self._store.job(job_id).stageIds().iterator()
            while stage_ids.hasNext():
                sid = stage_ids.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return out

    def drain_listeners(self) -> None:
        self._bus.waitUntilEmpty(BUS_TIMEOUT_MS)

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def retained_block_mb(self) -> float:
        """Block storage still held by RDDs (cached or locally
        checkpointed), in memory or on disk."""
        return sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo()) / MB


def catalyst_ms(df) -> dict[str, float]:
    """Plan ``df`` to its executed plan and read the phase times of its
    ``QueryExecution``.  Analysis ran when the frame was built; forcing
    ``executedPlan`` runs optimization and planning here."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {p: float(phases.get(p).get().durationMs()) if phases.contains(p) else 0.0
            for p in CATALYST_PHASES}


def proc_peak_rss_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of ``pid`` so far."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"VmHWM missing from /proc/{pid}/status")


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class StreamProbe(StreamingQueryListener):
    """Collects one record per micro-batch progress event."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append({
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start_epoch": datetime.fromisoformat(p.timestamp).timestamp(),
            "input_rows": p.numInputRows,
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "add_batch_ms": p.durationMs.get("addBatch", 0),
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            "state_mem_mb": sum(op.memoryUsedBytes for op in p.stateOperators) / MB,
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        """Batches reported since the last call."""
        out, self.batches = self.batches, []
        return out


def stream_counters(batches: list[dict]) -> dict[str, float]:
    """Streaming counters of a set of batches; state size is each query's
    state after its last batch."""
    last: dict[str, dict] = {}
    for b in batches:
        last[b["run_id"]] = b
    return {
        "queries": len(last),
        "batches": len(batches),
        "input_rows": sum(b["input_rows"] for b in batches),
        "trigger_ms": sum(b["trigger_ms"] for b in batches),
        "add_batch_ms": sum(b["add_batch_ms"] for b in batches),
        "state_rows": sum(b["state_rows"] for b in last.values()),
        "state_mem_mb": sum(b["state_mem_mb"] for b in last.values()),
    }


def batch_ms_p50(batches: list[dict]) -> float:
    return statistics.median(b["trigger_ms"] for b in batches) if batches else 0.0


_DELTA = re.compile(r"__d[^/]*$")
_GENERATION = re.compile(r"__g\d+$")
_STAGED = re.compile(r"\.(build|old)-")  # staging or retired copy, not a publish


def index_files(root: str) -> dict[str, int]:
    """Size of every file under the gram-index root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            try:
                out[path] = os.path.getsize(path)
            except FileNotFoundError:  # a staging dir renamed under us
                pass
    return out


def index_counters(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """What the program published under the index root between two
    snapshots.  A published index table is a directory holding
    ``_graft_meta.json``: ``<t>__d<batch>`` is a delta leg, ``<t>__g<N>``
    a compacted generation, anything else a base table."""
    new_tables = [os.path.dirname(p) for p in after
                  if p not in before and os.path.basename(p) == "_graft_meta.json"
                  and not _STAGED.search(os.path.dirname(p))]
    deltas = [t for t in new_tables if _DELTA.search(t)]
    generations = [t for t in new_tables if not _DELTA.search(t) and _GENERATION.search(t)]
    written = sum(size for p, size in after.items() if before.get(p) != size)
    return {
        "tables_built": len(new_tables) - len(deltas) - len(generations),
        "bytes_written_mb": written / MB,
        "deltas_published": len(deltas),
        "generations_flipped": len(generations),
    }
