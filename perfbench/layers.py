"""Readers for what Spark itself records, used only by the traced run.

* :class:`StatusStore` reads jobs and stages from the driver's
  ``AppStatusStore`` (populated with ``spark.ui.enabled=false`` too). It
  keeps the highest job and stage id seen, so each read returns exactly the
  work done since the previous one: with a single caller that waits for
  every op, that is the op's work, streaming micro-batches included.
* :class:`StreamProgress` is a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress`` instead of letting it be thrown away.
"""

from __future__ import annotations

import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

SPARK_KEYS = {  # name -> unit
    "jobs": "count", "stages": "count", "tasks": "count",
    "task_run_ms": "ms", "task_cpu_ms": "ms", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "input_rows": "count",
}
_MB = 1024.0 * 1024.0


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in range(2, 6)
        ]
        self._jvm = sc._jvm
        self.last_job = -1
        self.last_stage = -1
        self.read()  # start from the current high-water marks

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def read(self) -> dict:
        """Work since the previous call, as :data:`SPARK_KEYS` counts."""
        self._drain()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        jobs = self._store.jobsList(None)  # newest first
        top_job = self.last_job
        for i in range(jobs.length()):
            jid = jobs.apply(i).jobId()
            if jid <= self.last_job:
                break
            top_job = max(top_job, jid)
            out["jobs"] += 1
        stages = self._store.stageList(self._jvm.java.util.ArrayList(), *self._defaults)
        top_stage = self.last_stage
        for i in range(stages.length()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            top_stage = max(top_stage, sid)
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_run_ms"] += s.executorRunTime()
            out["task_cpu_ms"] += s.executorCpuTime() / 1e6
            out["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
            out["input_rows"] += s.inputRecords()
        self.last_job, self.last_stage = top_job, top_stage
        return out


def _ts(text: str) -> float:
    return datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp()


STREAM_PHASES = {
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "trigger_ms": "triggerExecution",
}


SETTLE_S = 5.0


class StreamProgress(StreamingQueryListener):
    def __init__(self):
        self.started: dict[str, float] = {}
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        self.started[str(event.id)] = _ts(event.timestamp)

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        self.progress.append(
            {
                "id": str(p.id),
                "end": _ts(p.timestamp) + d.get("triggerExecution", 0) / 1e3,
                "rows": p.numInputRows,
                "phases": {k: d.get(v, 0) for k, v in STREAM_PHASES.items()},
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.id))

    def settle(self) -> None:
        """Wait until every started query's termination was delivered, at
        most ``SETTLE_S`` seconds."""
        deadline = time.monotonic() + SETTLE_S
        while set(self.started) - self.terminated and time.monotonic() < deadline:
            time.sleep(0.01)

    def take(self) -> dict:
        """Summary of the queries finished since the previous call."""
        self.settle()
        out = {"queries": float(len(self.started)), "batches": float(len(self.progress))}
        out["input_rows"] = float(sum(p["rows"] for p in self.progress))
        for key in STREAM_PHASES:
            out[key] = float(sum(p["phases"][key] for p in self.progress))
        starts = []
        for qid, t0 in self.started.items():
            ends = [p["end"] for p in self.progress if p["id"] == qid]
            if ends:
                starts.append((min(ends) - t0) * 1e3)
        out["start_ms"] = float(sum(starts))
        out["state_rows"] = float(max((p["state_rows"] for p in self.progress), default=0))
        out["state_mb"] = max((p["state_bytes"] for p in self.progress), default=0) / (1024.0 * 1024.0)
        self.started, self.terminated, self.progress = {}, set(), []
        return out
