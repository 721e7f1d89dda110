"""Spans and counts recorded around the benchmark's calls into each layer.

Everything here lives in the benchmark: nothing in the engine is
modified. With tracing off, a :class:`Tracer` still times its spans (the
benchmark needs op latencies) but makes no py4j call of its own. With
tracing on it also

- counts py4j round trips by wrapping the gateway client's
  ``send_command`` — approximate: the JVM-bound garbage-collection
  detach commands land wherever Python happens to collect;
- tags every phase's Spark jobs with ``setJobGroup("<workload>/<op>/
  <phase>")`` so the status store's job and stage metrics (the fields
  ``Counters.stage_report`` reads) roll up per phase.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from typing import Iterator

from py4j.protocol import Py4JJavaError

from stats import covered

#: stage fields summed into a phase rollup, status-store accessor names
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "executor_cpu_ns": "executorCpuTime",
    "executor_run_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Py4jCounter:
    """Counts ``send_command`` calls on one gateway client."""

    def __init__(self, client) -> None:
        self._client = client
        self._orig = client.send_command
        self._lock = threading.Lock()
        self.calls = 0

        def counting(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return self._orig(*args, **kwargs)

        client.send_command = counting

    def close(self) -> None:
        self._client.send_command = self._orig


class Tracer:
    """In-memory span recorder. Spans nest through a stack (one client
    thread); each keeps wall-clock bounds in both ``perf_counter`` and
    epoch milliseconds (the status store's clock), its parent, op id and
    counters."""

    def __init__(self, enabled: bool, workload: str) -> None:
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._spark = None
        self._sc = None
        self._py4j: Py4jCounter | None = None

    def attach(self, spark) -> None:
        """Bind to a live session; with tracing on, count py4j calls and
        note which span started each streaming query. A stream runs its
        micro-batch jobs under its own job group (the query's run id),
        so the rollup of the span that started it must include that
        group too."""
        self._spark = spark
        self._sc = spark.sparkContext
        if not self.enabled:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Starts(StreamingQueryListener):
            # query-started events reach listeners synchronously, on the
            # call that starts the query: the open span is the caller
            def onQueryStarted(self, event):
                if tracer._stack:
                    tracer._stack[-1].setdefault("stream_groups", []).append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._starts = _Starts()
        spark.streams.addListener(self._starts)
        self._py4j = Py4jCounter(self._sc._gateway._gateway_client)

    def close(self) -> None:
        if self._py4j is not None:
            self._spark.streams.removeListener(self._starts)
            self._py4j.close()
            self._py4j = None

    @property
    def py4j_calls(self) -> int:
        return self._py4j.calls if self._py4j else 0

    @contextmanager
    def span(self, name: str, op: str | None = None, group: bool = False, **attrs) -> Iterator[dict]:
        """Record one span. ``group=True`` tags the Spark jobs launched
        inside it with a job group named after the span (traced runs
        only)."""
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        gid = None
        if group and self.enabled:
            gid = f"{self.workload}/{s['op']}/{name}#{s['id']}"
            s["job_group"] = gid
            self._sc.setJobGroup(gid, gid)
        p0 = self.py4j_calls
        s["epoch_start_ms"] = time.time() * 1000.0
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["epoch_end_ms"] = time.time() * 1000.0
            if self.enabled:
                s["py4j_calls"] = self.py4j_calls - p0
            if gid is not None:
                self._sc.setJobGroup("", "")
            self._stack.pop()

    # -- status-store rollup (traced runs) ---------------------------------

    def rollup(self, s: dict) -> dict:
        """Job and stage metrics of the jobs tagged with span ``s``'s
        group, plus the seconds of ``s`` covered by those jobs (the
        fit time of a build span). Costs py4j calls, so call it outside
        every timed span."""
        out = {"jobs": 0, "stages": 0, "job_covered_s": 0.0, "stage_rows": []}
        out.update({k: 0 for k in _STAGE_FIELDS})
        if "job_group" not in s:
            return out
        groups = [s["job_group"]] + s.get("stream_groups", [])
        store = self._sc._jsc.sc().statusStore()
        tracker = self._sc.statusTracker()
        gw = self._sc._gateway
        no_status, no_quantiles = gw.jvm.java.util.Collections.emptyList(), gw.new_array(gw.jvm.double, 0)
        job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        intervals, seen = [], set()
        for jid in job_ids:
            try:
                job = store.job(jid)
            except Py4JJavaError:  # evicted from the store (retainedJobs)
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else s["epoch_end_ms"]
                intervals.append((float(sub.get().getTime()), float(end)))
            ids = job.stageIds()
            for i in range(ids.size()):
                seen.add(int(ids.apply(i)))
        for sid in sorted(seen):
            try:
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            except Py4JJavaError:  # evicted from the store (retainedStages)
                continue
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.numCompleteTasks() == 0 and st.numFailedTasks() == 0:
                    continue  # skipped: reused another job's shuffle output
                row = {k: int(getattr(st, acc)()) for k, acc in _STAGE_FIELDS.items()}
                out["stages"] += 1
                for k, v in row.items():
                    out[k] += v
                out["stage_rows"].append(row)
        out["job_covered_s"] = (
            covered(intervals, s["epoch_start_ms"], s["epoch_end_ms"]) / 1000.0
        )
        return out
