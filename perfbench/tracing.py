"""Per-layer accounting for the traced run.

Spans are timed in the benchmark around its calls into the program
(``QUERIES[name].fn`` for plan build, then the action); everything below
that is read from Spark's own bookkeeping, so no program code changes:

- the DAG scheduler's job counter, read before and after each phase, ties
  every Spark job to the query and phase that started it;
- ``QueryExecution.tracker()`` of the action's plan gives the Catalyst
  analysis, optimization and planning times;
- the REST status API gives jobs, stages and their task metrics, and the
  SQL metrics of the Python exec nodes;
- a ``StreamingQueryListener`` gives each micro-batch's progress.

Nothing is fetched while a query runs: marks are kept in memory and the
REST data is read once per traced round, after the listener bus drains.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import statistics
import threading
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

#: Per-layer metric names, as printed, with their units.
LAYER_METRICS: dict[str, str] = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimize_s": "s",
    "catalyst.plan_s": "s",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.job_wall_s": "s",
    "sql.driver_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "B",
    "io.input_bytes": "B",
    "io.output_bytes": "B",
    "pyworker.bytes_sent": "B",
    "pyworker.bytes_returned": "B",
    "pyworker.run_s": "s",
    "pyworker.start_s": "s",
    "stream.batches": "count",
    "stream.batch_p50_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "B",
    "stream.state_commit_ms": "ms",
    "unattributed_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}

_CATALYST = {
    "analysis": "catalyst.analysis_s",
    "optimization": "catalyst.optimize_s",
    "planning": "catalyst.plan_s",
}
#: SQL metrics of the Python exec nodes (summed over tasks)
_PYWORKER = {
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.start_s",
}
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1, "min": 60, "m": 60, "h": 3600,
}
_TOTAL = re.compile(r"([0-9.]+) (B|KiB|MiB|GiB|TiB|ms|s|min|m|h)\b")


def _epoch(stamp: str) -> float:
    """REST (``...123GMT``) and progress (``...123Z``) timestamps."""
    stamp = stamp.replace("GMT", "").replace("Z", "")
    return dt.datetime.fromisoformat(stamp).replace(tzinfo=dt.timezone.utc).timestamp()


def _metric_total(value: str) -> float:
    """Total of a size or timing SQL metric, in bytes or seconds:
    ``"1.5 KiB"``, ``"633 ms"`` or, with per-task stats,
    ``"total (min, med, max ...)\\n1.5 KiB (...)"``."""
    m = _TOTAL.search(value.split("\n")[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def _clip(spans, window: tuple[float, float]) -> list[tuple[float, float]]:
    lo, hi = window
    return [(max(a, lo), min(b, hi)) for a, b in spans if min(b, hi) > max(a, lo)]


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class _Progress(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.events.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list:
        with self._lock:
            out, self.events = self.events, []
        return out


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._listener: _Progress | None = None

    def begin(self) -> None:
        """Start listening for micro-batch progress (one traced round)."""
        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def next_job(self) -> int:
        """Id the next Spark job will get."""
        return int(self._sc.dagScheduler().nextJobId())

    @staticmethod
    def catalyst(cdf) -> tuple[dict[str, float], list[tuple[float, float]]]:
        """Catalyst phase times (s) of the action's plan, and their
        wall-clock spans."""
        times, spans = {}, []
        it = cdf._jdf.queryExecution().tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in _CATALYST:
                phase = kv._2()
                times[_CATALYST[kv._1()]] = phase.durationMs() / 1e3
                spans.append((phase.startTimeMs() / 1e3, phase.endTimeMs() / 1e3))
        return times, spans

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=60) as r:
            return json.load(r)

    def attribute(self, records: list[dict]) -> None:
        """Fill each traced query record with its per-layer numbers.

        A record carries the wall-clock marks ``t0`` (build start), ``t1``
        (action start), ``t2`` (action end) and the job counter marks
        ``j0``, ``j1``, ``j2`` read at the same points."""
        self._sc.listenerBus().waitUntilEmpty(60_000)
        if not records:
            self.close()
            return
        lo = min(r["j0"] for r in records)
        jobs = {j["jobId"]: j for j in self._get("jobs") if j["jobId"] >= lo}
        by_stage: dict[int, list[dict]] = {}  # every attempt of a stage
        for s in self._get("stages"):
            if s["status"] != "SKIPPED":
                by_stage.setdefault(s["stageId"], []).append(s)
        execs = self._sql_executions()
        progress = self._listener.take()
        self.close()

        for r in records:
            m = dict.fromkeys(LAYER_METRICS, 0.0)
            for k in ("trace.wall_s", "trace.overhead_s"):
                del m[k]
            m["plans.build_s"] = r["build_s"]
            m.update(r["catalyst"])
            mine = [jobs[j] for j in range(r["j0"], r["j2"]) if j in jobs]
            m["plans.build_jobs"] = sum(1 for j in mine if j["jobId"] < r["j1"])
            m["sched.jobs"] = len(mine)
            spans, action_jobs = [], []
            stage_ids: set[int] = set()
            for j in mine:
                stage_ids.update(j["stageIds"])
                if j.get("completionTime"):
                    span = (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
                    spans.append(span)
                    if j["jobId"] >= r["j1"]:
                        action_jobs.append(span)
            m["sched.job_wall_s"] = _union_s(spans)
            for sid in stage_ids:
                for s in by_stage.get(sid, ()):
                    m["sched.stages"] += 1
                    m["sched.tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                    m["exec.run_s"] += s["executorRunTime"] / 1e3
                    m["exec.cpu_s"] += s["executorCpuTime"] / 1e9
                    m["exec.gc_s"] += s["jvmGcTime"] / 1e3
                    m["shuffle.write_bytes"] += s["shuffleWriteBytes"]
                    m["shuffle.read_bytes"] += s["shuffleReadBytes"]
                    m["shuffle.fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
                    m["shuffle.spill_bytes"] += s["diskBytesSpilled"]
                    m["io.input_bytes"] += s["inputBytes"]
                    m["io.output_bytes"] += s["outputBytes"]
            # SQL executions started by this query, in build or in action
            action_execs = []
            for start, end, totals in execs:
                if r["t0"] <= start <= r["t2"]:
                    for k, v in totals.items():
                        m[k] += v
                    if start >= r["t1"]:
                        action_execs.append((start, end))
            self._stream(m, r, progress)
            # the action's wall time: Catalyst phases, then the SQL
            # execution (jobs, plus the driver work between them)
            window = (r["t1"], r["t2"])
            known = _clip(r["catalyst_spans"] + action_jobs, window)
            covered = _union_s(known + _clip(action_execs, window))
            m["sql.driver_s"] = covered - _union_s(known)
            m["unattributed_s"] = r["wall_s"] - r["build_s"] - covered
            r["layers"] = m

    def _sql_executions(self) -> list[tuple[float, float, dict[str, float]]]:
        """Every retained SQL execution: its wall-clock span and the totals
        of its Python-worker SQL metrics."""
        out = []
        for e in self._get("sql?details=true&planDescription=false&offset=0&length=1000000"):
            start = _epoch(e["submissionTime"])
            totals: dict[str, float] = {}
            for node in e.get("nodes", []):
                for metric in node.get("metrics", []):
                    key = _PYWORKER.get(metric["name"])
                    if key:
                        totals[key] = totals.get(key, 0.0) + _metric_total(metric["value"])
            out.append((start, start + e["duration"] / 1e3, totals))
        return out

    @staticmethod
    def _stream(m: dict, r: dict, progress: list) -> None:
        mine = [p for p in progress if r["t0"] <= _epoch(p.timestamp) <= r["t2"]]
        last: dict[str, object] = {}
        batch_ms = []
        for p in mine:
            d = p.durationMs
            batch_ms.append(d.get("triggerExecution", 0))
            m["stream.add_batch_ms"] += d.get("addBatch", 0)
            m["stream.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            m["stream.state_commit_ms"] += sum(o.commitTimeMs for o in p.stateOperators)
            last[p.runId] = p
        m["stream.batches"] = len(mine)
        r["batch_ms"] = batch_ms
        for p in last.values():
            m["stream.state_rows"] += sum(o.numRowsTotal for o in p.stateOperators)
            m["stream.state_mem_bytes"] += sum(o.memoryUsedBytes for o in p.stateOperators)


def summarize(traced_rounds: list[dict], untraced_walls: list[float]) -> dict[str, float]:
    """Per-layer metrics of a traced run: each is summed over a round's
    queries, then the median over traced rounds is taken;
    ``stream.batch_p50_ms`` is the median micro-batch time over all
    traced rounds."""
    sums = []
    batches: list[float] = []
    for rnd in traced_rounds:
        total = dict.fromkeys(LAYER_METRICS, 0.0)
        for q in rnd["queries"]:
            for k, v in q.get("layers", {}).items():
                total[k] += v
            batches.extend(q.get("batch_ms", []))
        sums.append(total)
    out = {k: statistics.median(s[k] for s in sums) for k in LAYER_METRICS}
    out["stream.batch_p50_ms"] = statistics.median(batches) if batches else 0.0
    out["trace.wall_s"] = statistics.median(r["wall_s"] for r in traced_rounds)
    out["trace.overhead_s"] = out["trace.wall_s"] - statistics.median(untraced_walls)
    return out
