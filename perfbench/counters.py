"""Per-layer counters read from Spark from outside the engine.

Stages and jobs are attributed to a query by the window of ids it created:
a cursor remembers the first id not yet seen and scans forward with
``statusStore().lastStageAttempt(id)`` / ``statusStore().job(id)`` after
the query returns. Job groups would be simpler, but they do not reach the
micro-batch thread of Structured Streaming, and
``statusStore().stageList(None)`` does not resolve through py4j.

Micro-batch progress comes from the ``StreamingQueryListener`` defined here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql.streaming import StreamingQueryListener

# a missing id is treated as the end of the window only after this many
# consecutive misses, so an id the scheduler allocated but never registered
# does not cut the window short
_LOOKAHEAD = 3

STAGE_FIELDS = (
    "executorRunTime",      # ms
    "executorCpuTime",      # ns
    "jvmGcTime",            # ms
    "shuffleWriteBytes",
    "diskBytesSpilled",
    "inputRecords",
    "inputBytes",
    "numCompleteTasks",
)


class IdCursor:
    """Yields the ids created since the previous call, given ``lookup(id)``
    that returns the record or None when the id is unknown."""

    def __init__(self, lookup: Callable[[int], object | None]):
        self._lookup = lookup
        self.next_id = 0

    def take(self) -> list[object]:
        found, misses, i = [], 0, self.next_id
        while misses < _LOOKAHEAD:
            rec = self._lookup(i)
            if rec is None:
                misses += 1
            else:
                found.append(rec)
                misses = 0
                self.next_id = i + 1
            i += 1
        return found


def sum_stages(stages: list[dict]) -> dict:
    """Operator and boundary totals of a window of stages (plain dicts with
    the ``STAGE_FIELDS`` keys plus ``status``)."""
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    run_ms = sum(s["executorRunTime"] for s in ran)
    cpu_ns = sum(s["executorCpuTime"] for s in ran)
    return {
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "task_cpu_s": cpu_ns / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in ran),
        # time tasks ran but not on a JVM core: waiting on Python workers
        # (Arrow batches in and out) and on I/O
        "wait_s": run_ms / 1e3 - cpu_ns / 1e9,
        "input_rows": sum(s["inputRecords"] for s in ran),
        "input_bytes": sum(s["inputBytes"] for s in ran),
    }


class SparkCounters:
    """Stage/job cursors over one SparkContext's status store."""

    def __init__(self, spark):
        from py4j.protocol import Py4JJavaError

        jsc = spark.sparkContext._jsc.sc()
        store = jsc.statusStore()
        self._bus = jsc.listenerBus()

        def stage(i: int):
            try:
                st = store.lastStageAttempt(i)
            except Py4JJavaError:
                return None
            rec = {f: getattr(st, f)() for f in STAGE_FIELDS}
            rec["status"] = st.status().toString()
            return rec

        def job(i: int):
            try:
                return store.job(i).jobId()
            except Py4JJavaError:
                return None

        self.stages = IdCursor(stage)
        self.jobs = IdCursor(job)

    def settle(self) -> None:
        """Wait until every listener event posted so far has been handled,
        so the status store and the stream listener are complete."""
        self._bus.waitUntilEmpty()

    def take(self) -> dict:
        """Totals of the jobs and stages created since the previous take."""
        self.settle()
        out = sum_stages(self.stages.take())
        out["jobs"] = len(self.jobs.take())
        return out


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress report of the session."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators
        self.batches.append({
            "source_rows": [s.numInputRows for s in p.sources],
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "planning_ms": p.durationMs.get("queryPlanning", 0),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_update_ms": sum(o.allUpdatesTimeMs for o in ops),
            "state_rows": sum(o.numRowsUpdated for o in ops),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self) -> list[dict]:
        out, self.batches = self.batches, []
        return out
