"""In-memory spans around calls into the engine, with Spark jobs, stages and
streaming triggers attributed to the call that caused them.

Attribution is by id range, not by job group: job and stage ids are
allocated in increasing order, and the benchmark runs one call at a time,
so every job and stage whose id lies between the highest id seen before a
call and the highest id seen after it belongs to that call. Micro-batch
jobs run on the stream's own thread and do not carry the caller's job
group; the id range still catches them. Streaming triggers come from a
``StreamingQueryListener`` and are attributed by arrival, after the
listener bus has been drained at the end of each call.

Spans are kept in memory and written out once, by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime
from typing import Iterator

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in intervals if e > start and s < end
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(start, end, children)


class StatusStore:
    """Reads jobs and stages out of Spark's status store by id range.

    Works with ``spark.ui.enabled=false``; the session must retain at least
    as many jobs and stages as the largest call runs
    (``spark.ui.retainedJobs`` / ``spark.ui.retainedStages``). Each record
    crosses py4j once, as JSON, through Spark's own Jackson mapper setup.
    """

    _JOB = "org.apache.spark.status.JobDataWrapper"
    _STAGE = "org.apache.spark.status.StageDataWrapper"

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._kv = self._store.store()
        forname = jvm.java.lang.Class.forName
        self._job_cls = forname(self._JOB)
        self._stage_cls = forname(self._STAGE)
        scala = forname("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala.getField("MODULE$").get(None)
        )
        self._no_status = jvm.java.util.ArrayList()
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until every posted scheduler/streaming event is processed."""
        self._sc.listenerBus().waitUntilEmpty()

    def high_water(self) -> tuple[int, int]:
        """(highest job id, highest stage id) the store holds; -1 if none."""
        out = []
        for cls, key in ((self._job_cls, "jobId"), (self._stage_cls, "stageId")):
            it = self._kv.view(cls).reverse().max(1).iterator()
            out.append(getattr(it.next().info(), key)() if it.hasNext() else -1)
        return out[0], out[1]

    def jobs(self, first: int, last: int) -> list[dict]:
        """Jobs with ids in ``[first, last]`` that have been submitted."""
        out = []
        for job_id in range(first, last + 1):
            try:
                j = self._json(self._store.job(job_id))
            except Py4JJavaError:  # id allocated, job never posted
                continue
            if j.get("submissionTime") is None:
                continue
            start = j["submissionTime"] / 1e3
            end = (j.get("completionTime") or j["submissionTime"]) / 1e3
            out.append({"id": job_id, "start": start, "end": end})
        return out

    def stages(self, first: int, last: int) -> list[dict]:
        """Every attempt of the stages with ids in ``[first, last]``."""
        out = []
        for stage_id in range(first, last + 1):
            try:
                attempts = self._json(self._store.stageData(
                    stage_id, False, self._no_status, True, self._quantiles))
            except Py4JJavaError:  # id allocated, stage never posted
                continue
            out.extend(_stage_dict(s) for s in attempts)
        return out


def _stage_dict(s: dict) -> dict:
    run = (s.get("taskMetricsDistributions") or {}).get("executorRunTime") or [0, 0]
    return {
        "id": s["stageId"],
        "attempt": s["attemptId"],
        "status": s["status"],
        "tasks": s["numCompleteTasks"],
        "executor_run_s": s["executorRunTime"] / 1e3,
        "executor_cpu_s": s["executorCpuTime"] / 1e9,
        "gc_s": s["jvmGcTime"] / 1e3,
        "input_mb": s["inputBytes"] / 2**20,
        "shuffle_read_mb": s["shuffleReadBytes"] / 2**20,
        "shuffle_write_mb": s["shuffleWriteBytes"] / 2**20,
        "spill_mb": s["diskBytesSpilled"] / 2**20,
        # median and slowest task of the stage, for the skew ratio
        "task_run_p50_s": run[0] / 1e3 if s["numCompleteTasks"] >= 2 else 0.0,
        "task_run_max_s": run[1] / 1e3 if s["numCompleteTasks"] >= 2 else 0.0,
    }


class TriggerListener(StreamingQueryListener):
    """Keeps every streaming progress event (one per trigger) in memory."""

    def __init__(self) -> None:
        self.triggers: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        trig = {
            "run_id": str(p.runId),
            "batch": p.batchId,
            "start": start.timestamp(),
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
        }
        trig["end"] = trig["start"] + trig["duration_ms"].get("triggerExecution", 0) / 1e3
        with self._lock:
            self.triggers.append(trig)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def since(self, index: int) -> list[dict]:
        with self._lock:
            return self.triggers[index:]

    def count(self) -> int:
        with self._lock:
            return len(self.triggers)


@dataclass
class Call:
    """One traced call into a layer, with the Spark work it caused."""

    name: str
    qid: str | None
    start: float
    end: float = 0.0
    jobs: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    triggers: list[dict] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Wall time not covered by this call's Spark jobs."""
        return self_time(self.start, self.end, [(j["start"], j["end"]) for j in self.jobs])


class Tracer:
    """Records spans around calls; see the module docstring for attribution."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.store = StatusStore(spark)
        self.listener = TriggerListener()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._claimed_jobs: set[int] = set()
        self._claimed_triggers: set[tuple[str, int]] = set()

    def attach(self) -> None:
        self.spark.streams.addListener(self.listener)

    def detach(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def _span(self, name: str, start: float, end: float, qid, attrs=None) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "qid": qid,
                "parent": self._stack[-1] if self._stack else None,
                "start": start,
                "end": end,
                **({"attrs": attrs} if attrs else {}),
            }
        )
        return len(self.spans) - 1

    def record(self, name: str, start: float, end: float, qid=None) -> None:
        """A span measured without the tracer (e.g. session start)."""
        self._span(name, start, end, qid)

    @contextmanager
    def call(self, name: str, qid: str | None = None) -> Iterator[Call]:
        job0, stage0 = self.store.high_water()
        trig0 = self.listener.count()
        call = Call(name, qid, time.time())
        sid = self._span(name, call.start, call.start, qid)
        self._stack.append(sid)
        try:
            yield call
        finally:
            call.end = time.time()
            self.store.drain()
            job1, stage1 = self.store.high_water()
            call.jobs = self.store.jobs(job0 + 1, job1)
            call.stages = self.store.stages(stage0 + 1, stage1)
            call.triggers = self.listener.since(trig0)
            self.spans[sid]["end"] = call.end
            self.spans[sid]["attrs"] = {"self_s": call.self_s}
            # inner calls close first and claim their jobs; an outer call
            # counts them in its totals but does not re-record the span
            for j in call.jobs:
                if j["id"] not in self._claimed_jobs:
                    self._claimed_jobs.add(j["id"])
                    self._span("spark.job", j["start"], j["end"], qid, {"job": j["id"]})
            for t in call.triggers:
                key = (t["run_id"], t["batch"])
                if key not in self._claimed_triggers:
                    self._claimed_triggers.add(key)
                    self._span(
                        "streaming.trigger", t["start"], t["end"], qid,
                        {"batch": t["batch"], "duration_ms": t["duration_ms"]},
                    )
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
