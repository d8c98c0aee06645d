"""Per-operation Spark counters read from the in-process status stores.

Works with ``spark.ui.enabled=false``: the core store
(``sc._jsc.sc().statusStore()``) keeps jobs and stages, the SQL store
(``sharedState().statusStore()``) keeps each execution's plan graph and
its SQL metrics, which is where the Python-worker time and bytes of
ArrowEvalPython / MapInPandas nodes live. ``sc.statusTracker()`` gives
the job ids to start from.

An operation is bracketed by ``begin()`` / ``end()``; every job submitted
in between belongs to it (the benchmark runs one operation at a time).
"""

from __future__ import annotations

import re
import time

from tracing import union_length

# counters that must repeat exactly when the same operation runs again
# on the same state
RERUN_EXACT = ("jobs", "tasks", "rows")

_PY_METRICS = {
    "time to run Python workers": "python_worker_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """A SQL metric's display string ('9 ms', or 'total (min, med, max
    ...)\\n2.4 s (585 ms, ...)') as seconds or bytes: the total."""
    last = text.strip().splitlines()[-1]
    m = _VALUE.match(last.strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkStatus:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = self._jsc.listenerBus()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def _max_job_id(self) -> int:
        ids = self._tracker.getJobIdsForGroup(None)
        jobs = self._store.jobsList(None)  # newest first
        top = jobs.apply(0).jobId() if jobs.size() else -1
        return max([top, *ids]) if ids else top

    def begin(self) -> dict:
        self._drain()
        return {"job_mark": self._max_job_id(), "t0": time.time()}

    def end(self, mark: dict, t1: float | None = None) -> dict:
        """Counter deltas for the jobs submitted since ``mark``."""
        t1 = time.time() if t1 is None else t1
        self._drain()
        jobs = self._store.jobsList(None)
        out = dict.fromkeys(
            (
                "jobs", "tasks", "rows", "executor_run_s", "executor_cpu_s",
                "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", *_PY_METRICS.values(),
            ),
            0.0,
        )
        intervals, stages, executions = [], set(), set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= mark["job_mark"]:
                break
            out["jobs"] += 1
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None:
                end_s = done.getTime() / 1e3 if done is not None else t1
                intervals.append(
                    (max(sub.getTime() / 1e3, mark["t0"]), min(end_s, t1))
                )
            sids = job.stageIds()
            stages.update(sids.apply(k) for k in range(sids.size()))
            sql_id = _opt(self._store.jobWithAssociatedSql(jid)._2())
            if sql_id is not None:
                executions.add(int(sql_id))
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # stage never attempted (skipped)
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["tasks"] += st.numCompleteTasks()
            out["rows"] += st.inputRecords() + st.shuffleReadRecords()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        for eid in executions:
            for key, value in self._python_metrics(eid).items():
                out[key] += value
        wall = t1 - mark["t0"]
        out["wall_s"] = wall
        out["outside_jobs_s"] = wall - union_length(
            iv for iv in intervals if iv[1] > iv[0]
        )
        out["persisted_rdds_after"] = float(self._jsc.getPersistentRDDs().size())
        return out

    def _python_metrics(self, execution_id: int) -> dict[str, float]:
        nodes = self._sql.planGraph(execution_id).allNodes()
        acc_ids = []
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if "Python" not in name and "Pandas" not in name and "Arrow" not in name:
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _PY_METRICS.get(m.name())
                if key is not None:
                    acc_ids.append((key, m.accumulatorId()))
        if not acc_ids:
            return {}
        values = self._sql.executionMetrics(execution_id)
        out: dict[str, float] = {}
        for key, acc in acc_ids:
            text = _opt(values.get(acc))
            if text is not None:
                out[key] = out.get(key, 0.0) + parse_metric(text)
        return out
