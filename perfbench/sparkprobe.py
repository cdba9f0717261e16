"""Reads Spark's own metrics from outside the engine.

Nothing here changes how a query runs. Three sources, each read after
the thing it describes has finished:

- ``QueryExecutions``: a ``QueryExecutionListener`` that keeps each
  finished action's ``QueryExecution``, so the Catalyst phase times and
  the final adaptive plan are read from the execution that actually
  ran (``df.write...save()`` runs its own execution; the phases of
  ``df._jdf.queryExecution()`` stay empty).
- ``StreamProgress``: a ``StreamingQueryListener`` that keys progress
  by query id and lets the caller wait for every started query's
  ``onQueryTerminated`` (progress arrives asynchronously).
- ``StatusStores``: Spark's application and SQL status stores (both
  stay populated with the UI disabled): stages and jobs submitted since
  a mark, and the Python-node metrics of each SQL execution's plan graph.
"""

from __future__ import annotations

import datetime as dt
import re
import threading

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener


def _items(seq) -> list:
    """A Scala collection as a Python list."""
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _first(seq):
    """The first item of a Scala collection, or None."""
    it = seq.iterator()
    return it.next() if it.hasNext() else None


def _newest_first(seq, key, after: int) -> list:
    """Leading items of a Scala collection listed newest first (the status
    store lists stages and jobs by descending id) whose id is above ``after``."""
    it = seq.iterator()
    out = []
    while it.hasNext():
        item = it.next()
        if key(item) <= after:
            break
        out.append(item)
    return out


def wait_for_listeners(spark: SparkSession, timeout_ms: int = 30_000) -> None:
    """Block until every event posted so far has reached every listener."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


class QueryExecutions:
    """Keeps the ``QueryExecution`` of every action that completes."""

    def __init__(self, spark: SparkSession) -> None:
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._lock = threading.Lock()
        self._done: list = []
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def close(self) -> None:
        self._manager.unregister(self)

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 (Java interface)
        with self._lock:
            self._done.append(qe)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802
        pass

    def take(self) -> list:
        with self._lock:
            done, self._done = self._done, []
        return done

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def phases(qe) -> list[tuple[str, float, float]]:
    """``(phase, start_s, end_s)`` for analysis, optimization and planning."""
    out = []
    for kv in _items(qe.tracker().phases()):
        summary = kv._2()
        out.append((kv._1(), summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3))
    return out


def final_plan_facts(qe) -> dict:
    """Exchanges, broadcast bytes and shuffle skew of the executed plan,
    descending through the write command, the adaptive plan and its
    query stages."""
    facts = {"exchanges": 0, "broadcast_bytes": 0, "skew": 0.0}
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "CommandResultExec":
            stack.append(node.commandPhysicalPlan())
            continue
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.finalPhysicalPlan())
            continue
        if kind.endswith("QueryStageExec"):
            if kind == "ShuffleQueryStageExec":
                stats = node.mapStats()
                if stats.isDefined():
                    sizes = sorted(stats.get().bytesByPartitionId())
                    mid = sizes[len(sizes) // 2] if sizes else 0
                    if mid > 0:
                        facts["skew"] = max(facts["skew"], sizes[-1] / mid)
            stack.append(node.plan())
            continue
        if kind in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            facts["exchanges"] += 1
        if kind == "BroadcastExchangeExec":
            facts["broadcast_bytes"] += node.metrics().apply("dataSize").value()
        stack.extend(_items(node.children()))
    return facts


class StreamProgress(StreamingQueryListener):
    """Progress of every streaming query, keyed by query id."""

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self._progress: dict[str, list] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        # delivered synchronously, before start() returns
        with self._cv:
            self._started.add(str(event.id))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self._cv:
            self._progress.setdefault(str(p.id), []).append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._cv:
            self._terminated.add(str(event.id))
            self._cv.notify_all()

    def take(self, timeout_s: float = 30.0) -> dict[str, list]:
        """Wait until every query started so far has terminated, then
        return (and forget) the progress of those queries."""
        with self._cv:
            if not self._cv.wait_for(lambda: self._started <= self._terminated, timeout_s):
                raise TimeoutError(
                    f"no onQueryTerminated for {sorted(self._started - self._terminated)}"
                )
            done = {q: self._progress.pop(q, []) for q in self._started}
            self._started.clear()
            self._terminated.clear()
        return done


def progress_start_s(progress) -> float:
    """A progress record's trigger start, in seconds since the epoch."""
    stamp = dt.datetime.strptime(progress.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return stamp.replace(tzinfo=dt.timezone.utc).timestamp()


# Display names of the Python-runner metrics (PythonSQLMetrics) that
# the plan-graph nodes of MapInPandas, FlatMapGroupsInPandasWithState
# and the other Python operators carry.
PYTHON_METRICS = {
    "time to run Python workers": "total_ms",
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "received_bytes",
    "number of output rows": "rows_received",
}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_MS = {"ms": 1, "s": 1e3, "m": 60e3, "h": 3600e3}
_TOTAL = re.compile(r"([\d.,]+) ([A-Za-z]+)")


def parse_metric(kind: str, text: str) -> float:
    """A status-store metric string as a number (bytes, ms or a count).

    ``sum`` metrics print as ``1,234``; ``size`` and ``timing`` ones as
    ``total (min, med, max ...)\\n<total> <unit> (...)`` with three
    significant digits, or as a bare ``<total> <unit>``.
    """
    if kind in ("size", "timing", "nsTiming"):
        m = _TOTAL.match(text.rsplit("\n", 1)[-1])
        if m is None:
            raise ValueError(f"unparsed {kind} metric: {text!r}")
        scale = _SIZE if kind == "size" else _TIME_MS
        return float(m.group(1).replace(",", "")) * scale[m.group(2)]
    return float(text.replace(",", ""))


class StatusStores:
    def __init__(self, spark: SparkSession) -> None:
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        """The newest stage, job and SQL execution ids so far."""
        stage, job = _first(self._stages()), _first(self._jobs())
        return (
            stage.stageId() if stage is not None else -1,
            job.jobId() if job is not None else -1,
            max((e.executionId() for e in _items(self._sql.executionsList())), default=-1),
        )

    def _stages(self):
        none = self._jvm.java.util.ArrayList()
        quantiles = self._gateway.new_array(self._jvm.double, 0)
        return self._app.stageList(none, False, False, quantiles, none)

    def _jobs(self):
        return self._app.jobsList(self._jvm.java.util.ArrayList())

    def since(self, mark: tuple[int, int, int]) -> dict:
        """Totals over the stages, jobs and SQL executions after ``mark``."""
        stage0, job0, exec0 = mark
        out = {
            "jobs": len(_newest_first(self._jobs(), lambda j: j.jobId(), job0)),
            "stages": 0,
            "tasks": 0,
            "task_run_ms": 0,
            "scan_rows": 0,
            "scan_bytes": 0,
            "shuffle_bytes": 0,
            "shuffle_records": 0,
            "spill_bytes": 0,
        }
        for s in _newest_first(self._stages(), lambda s: s.stageId(), stage0):
            if s.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_run_ms"] += s.executorRunTime()
            out["scan_rows"] += s.inputRecords()
            out["scan_bytes"] += s.inputBytes()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["shuffle_records"] += s.shuffleWriteRecords()
            out["spill_bytes"] += s.diskBytesSpilled()
        python = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for e in _items(self._sql.executionsList()):
            if e.executionId() <= exec0:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for node in _items(self._sql.planGraph(e.executionId()).allNodes()):
                metrics = _items(node.metrics())
                if not any(m.name() == "data sent to Python workers" for m in metrics):
                    continue
                rows = 0.0
                for m in metrics:
                    key = PYTHON_METRICS.get(m.name())
                    text = values.get(m.accumulatorId())
                    if key is None or not text.isDefined():
                        continue
                    value = parse_metric(m.metricType(), text.get())
                    if key == "rows_received":  # the node's own output count shares the name
                        rows = max(rows, value)
                    else:
                        python[key] += value
                python["rows_received"] += rows
        out["python"] = python
        return out
