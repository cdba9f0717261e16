#!/usr/bin/env python3
"""Benchmark of the engine: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 20 --trace 0

Run from the repository root. The run reads the tables in
``perfbench/data``, starts one Spark session (``local[nproc]``), runs
one untimed pass that checks every query's result against its DuckDB
oracle, then the timed passes: each query in an order shuffled by
``--seed``, ``spark.catalog.clearCache()`` before each, result written
to the noop sink, the next query only after the previous one finished.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
passes without and with the probes (untraced, traced, traced,
untraced), and prints the per-layer metrics; its spans go to
``.perfbench/spans/``. Every run
writes its host, configuration and per-execution record to
``.perfbench/runs/``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is
non-zero when any query raised, timed out or mismatched its oracle.
"""

from __future__ import annotations

import time

_T_MAIN = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data")  # a copy of the engine's sf0.01 star-schema fixture
PACKAGE = "flink_release_1_16_0_spark"
QUERY_TIMEOUT_S = 60
MB = 1 << 20

sys.path.insert(0, HERE)

from procfs import RssSampler, descendants  # noqa: E402
from stats import TAIL_BEYOND, check_metric_name, median, paired_overheads, tail  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import WORKLOADS, Workload  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "retained_heap_mb": "MB",
}

PER_LAYER = {
    "client.query_tail_s": "s",
    "memory.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.load_registry_s": "s",
    "session.warmup_s": "s",
    "build.s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.exchanges": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.busy_cores": "cores",
    "exec.scan_rows": "count",
    "exec.scan_bytes": "B",
    "exec.shuffle_bytes": "B",
    "exec.shuffle_records": "count",
    "exec.spill_bytes": "B",
    "exec.broadcast_bytes": "B",
    "exec.shuffle_partition_skew": "ratio",
    "python.total_ms": "ms",
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.sent_bytes": "B",
    "python.received_bytes": "B",
    "python.rows_received": "count",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.empty_batch_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.microbatch_p50_ms": "ms",
    "streaming.microbatch_tail_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.commit_ms": "ms",
    "state.memory_bytes": "B",
    "state.instances": "count",
    "state.rows_per_instance": "ratio",
    "sink.tables_left": "count",
    "sink.rss_growth_mb_per_pass": "MB/pass",
    "sink.heap_growth_mb_per_pass": "MB/pass",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


def process_start_s() -> float:
    """This process's start time (seconds since the epoch), from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        boot = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return boot + ticks / os.sysconf("SC_CLK_TCK")


def host_record() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "load1_start": os.getloadavg()[0],
    }


class Watchdog:
    """Cancels every Spark job if the body outlives ``seconds``."""

    def __init__(self, spark, seconds: float) -> None:
        self.fired = False
        self._spark = spark
        self._timer = threading.Timer(seconds, self._fire)

    def _fire(self) -> None:
        self.fired = True
        self._spark.sparkContext.cancelAllJobs()

    def __enter__(self) -> Watchdog:
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()


class Bench:
    def __init__(self, workload: Workload, seed: int, seconds: float, trace: bool) -> None:
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.tracer = Tracer() if trace else None
        self.failures: list[dict] = []
        self.attempted = 0
        self.record: dict = {"workload": workload.name, "seed": seed, "host": host_record()}
        self._exec_ids = itertools.count(1)
        self._build_span: int | None = None
        self._drains: list[dict] = []

    # -- set-up ---------------------------------------------------------
    def set_up(self, start_s: float) -> None:
        self.data_dir = DATA
        nproc = self.record["host"]["nproc"]
        scratch = os.path.join(OUT, "tmp")
        os.makedirs(scratch, exist_ok=True)
        # SPARK_GRAFT_CPUS as in the tier-1 command. Python workers get the
        # package from PYTHONPATH, not from the current directory.
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = scratch
        os.environ["SPARK_GRAFT_STREAM_TIMEOUT"] = str(QUERY_TIMEOUT_S)
        sys.path.insert(0, ROOT)

        t1 = time.time()
        from flink_release_1_16_0_spark import get_spark

        # Only file placement: temp files, checkpoints and the warehouse
        # stay inside the checkout, and the JVM writes no perf-data file.
        self.spark = get_spark(
            "perfbench",
            {
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        t2 = time.time()
        from flink_release_1_16_0_spark.queries import load_registry

        registry = load_registry()
        self.specs = [registry[q] for q in self.w.queries]
        t3 = time.time()
        self.spark.read.parquet(f"{self.data_dir}/region.parquet").count()
        t4 = time.time()
        self.layers = {
            "session.get_spark_s": t2 - t1,
            "session.load_registry_s": t3 - t2,
            "session.warmup_s": t4 - t3,
        }
        self.setup_s = t4 - start_s
        if self.tracer:
            root = self.tracer.add("session", start_s, t4)
            self.tracer.add("session.get_spark", t1, t2, root)
            self.tracer.add("session.load_registry", t2, t3, root)
            self.tracer.add("session.warmup", t3, t4, root)
        conf = self.spark.conf
        self.record["config"] = {
            "pyspark": self.spark.version,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "master": self.spark.sparkContext.master,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark.driver.memory": conf.get("spark.driver.memory", None),
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
            "worker_pythonpath": ROOT,
            "data": os.path.relpath(DATA, ROOT),
            "queries": list(self.w.queries),
        }

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait for every child process."""
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on end of input
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants(os.getpid()):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, 9)

    # -- one query execution --------------------------------------------
    def execute(self, spec, collect: bool, traced: bool) -> dict:
        """Run one query; return its record (latency is None on failure)."""
        exec_id = next(self._exec_ids)
        self.attempted += 1
        rec = {"exec_id": exec_id, "query": spec.name, "latency_s": None, "traced": traced}
        self.spark.catalog.clearCache()
        if traced:
            mark = self.status.mark()
        span = self.tracer.span if traced else _no_span
        b = x = {"id": None, "start": float("inf")}
        dog = built_qe = None
        try:
            with Watchdog(self.spark, QUERY_TIMEOUT_S) as dog:
                t0 = time.time()
                with span("query", None, exec_id) as q:
                    with span("build", q["id"], exec_id) as b:
                        self._build_span = b["id"]
                        df = spec.fn(self.spark, self.data_dir)
                    if traced:  # analysis is eager: it ran inside build
                        built_qe = df._jdf.queryExecution()
                    t1 = time.time()
                    with span("exec", q["id"], exec_id) as x:
                        if collect:
                            rec["result"] = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
            rec.update(latency_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1)
        except Exception as e:  # noqa: BLE001 - a failed query is counted, the run goes on
            reason = "timeout" if dog is not None and dog.fired else type(e).__name__
            self._fail(spec.name, reason, traceback.format_exc(limit=3))
            rec["error"] = reason
        finally:
            self._build_span = None
        if traced:
            rec["layers"] = self._read_layers(exec_id, mark, b, x, built_qe)
        return rec

    def _fail(self, query: str, reason: str, detail: str) -> None:
        self.failures.append({"query": query, "reason": reason, "detail": detail[-2000:]})
        print(f"FAIL {query}: {reason}\n{detail}", file=sys.stderr)

    # -- tracing ----------------------------------------------------------
    def start_tracing(self) -> None:
        """Attach the probes for one pass; ``stop_tracing`` takes them off."""
        from flink_release_1_16_0_spark.streaming import core
        from sparkprobe import QueryExecutions, StatusStores, StreamProgress

        self.qes = QueryExecutions(self.spark)
        self.streams = StreamProgress()
        self.spark.streams.addListener(self.streams)
        self.status = StatusStores(self.spark)
        # Time each stream drain by wrapping the package's public
        # run_to_table wherever a module holds a reference to it.
        original = self._run_to_table = core.run_to_table

        def run_to_table(*args, **kwargs):
            t0 = time.time()
            try:
                return original(*args, **kwargs)
            finally:
                self._drains.append({"start": t0, "end": time.time(), "parent": self._build_span})

        self._wrapped = [
            mod
            for name, mod in list(sys.modules.items())
            if name.startswith(PACKAGE) and getattr(mod, "run_to_table", None) is original
        ]
        for mod in self._wrapped:
            mod.run_to_table = run_to_table

    def stop_tracing(self) -> None:
        for mod in self._wrapped:
            mod.run_to_table = self._run_to_table
        self.spark.streams.removeListener(self.streams)
        self.qes.close()

    def _read_layers(self, exec_id: int, mark, build_span: dict, exec_span: dict, built_qe) -> dict:
        from sparkprobe import final_plan_facts, phases, progress_start_s, wait_for_listeners

        wait_for_listeners(self.spark)
        tr = self.tracer
        lay = {"phase_ms": {}, "exchanges": 0, "broadcast_bytes": 0, "skew": 0.0}
        drains = [
            (tr.add("streaming.drain", d["start"], d["end"], d["parent"], exec_id), d)
            for d in self._drains
        ]
        lay["drain_s"] = sum(d["end"] - d["start"] for d in self._drains)
        self._drains.clear()
        ran = self.qes.take()
        # the built DataFrame's own execution holds the eager analysis;
        # reading its plan would plan it, so only its phases are read
        for qe in ran + ([built_qe] if built_qe is not None else []):
            for phase, s, e in phases(qe):
                parent = exec_span["id"] if s >= exec_span["start"] else build_span["id"]
                tr.add(f"catalyst.{phase}", s, e, parent, exec_id)
                lay["phase_ms"][phase] = lay["phase_ms"].get(phase, 0.0) + (e - s) * 1e3
        for qe in ran:
            facts = final_plan_facts(qe)
            lay["exchanges"] += facts["exchanges"]
            lay["broadcast_bytes"] += facts["broadcast_bytes"]
            lay["skew"] = max(lay["skew"], facts["skew"])
        batches, state = [], []
        for progress in self.streams.take().values():
            for p in progress:
                start = progress_start_s(p)
                dur = p.durationMs.get("triggerExecution", 0) / 1e3
                parent = next(
                    (i for i, d in drains if d["start"] <= start <= d["end"]), build_span["id"]
                )
                tr.add("streaming.microbatch", start, start + dur, parent, exec_id)
                batches.append(
                    {
                        "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                        "state": [
                            {
                                "rows_total": o.numRowsTotal,
                                "rows_updated": o.numRowsUpdated,
                                "update_ms": o.allUpdatesTimeMs,
                                "removal_ms": o.allRemovalsTimeMs,
                                "commit_ms": o.commitTimeMs,
                                "memory_bytes": o.memoryUsedBytes,
                                "instances": o.numStateStoreInstances,
                            }
                            for o in p.stateOperators
                        ],
                    }
                )
            if progress:
                state.append(batches[-1]["state"])  # the query's final state
        lay["batches"] = batches
        lay["final_state"] = [op for ops in state for op in ops]
        lay["store"] = self.status.since(mark)
        return lay

    # -- passes -----------------------------------------------------------
    def verify_pass(self) -> None:
        """Untimed warm-up pass: every result against its DuckDB oracle."""
        import duckdb
        from flink_release_1_16_0_spark.catalog import TABLES
        from tools.check_oracle import compare

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        checked = []
        for spec in self.rng.sample(self.specs, len(self.specs)):
            rec = self.execute(spec, collect=True, traced=False)
            result = rec.pop("result", None)
            if result is None:
                continue
            t0 = time.time()
            try:
                status, detail = compare(result, con.execute(spec.oracle).fetchdf())
            except Exception as e:  # noqa: BLE001
                status, detail = "ORACLE_ERROR", repr(e)
            checked.append(
                {
                    "query": spec.name,
                    "status": status,
                    "rows": len(result),
                    "spark_s": rec["latency_s"],
                    "oracle_s": time.time() - t0,
                }
            )
            if status != "OK":
                self._fail(spec.name, f"oracle {status}", detail)
        con.close()
        self.record["oracle"] = checked

    def heap_after_gc_mb(self) -> float:
        """Driver heap still in use once the cache is cleared and the heap
        collected: what the run has left behind. Every pass starts from
        this state, so passes begin alike."""
        self.spark.catalog.clearCache()  # a query may persist intermediates
        jvm = self.spark._jvm
        runtime = jvm.Runtime.getRuntime()
        readings = []
        # Unpersisting and Spark's ContextCleaner free blocks asynchronously,
        # after the collection that drops their last reference: collect a
        # few times and keep the lowest reading.
        for _ in range(3):
            jvm.System.gc()
            readings.append((runtime.totalMemory() - runtime.freeMemory()) / MB)
            time.sleep(0.25)
        return min(readings)

    def timed_pass(self, traced: bool) -> dict:
        order = self.rng.sample(self.specs, len(self.specs))
        load1 = os.getloadavg()[0]
        t0 = time.time()
        recs = [self.execute(spec, collect=False, traced=traced) for spec in order]
        wall = time.time() - t0
        return {
            "traced": traced,
            "wall_s": wall,
            "load1_before": load1,
            "load1_after": os.getloadavg()[0],
            "rss_after_mb": self.rss.sample() / MB,
            "heap_after_mb": self.heap_after_gc_mb(),
            "executions": recs,
        }

    def run(self, rss: RssSampler) -> dict[str, float]:
        self.rss = rss
        t0 = time.time()
        self.verify_pass()
        self.record["verify_s"] = time.time() - t0
        rss_points = [rss.sample() / MB]
        heap_points = [self.heap_after_gc_mb()]
        # A traced run pairs each traced pass with an untraced one, in the
        # order untraced, traced, traced, untraced, ...: over two pairs a
        # steady drift (sink tables piling up, a warming JVM) cancels out
        # of the overhead.
        n = self.w.passes(self.seconds) * (2 if self.trace else 1)
        passes = []
        for i in range(n):
            traced = self.trace and i % 4 in (1, 2)
            if traced:
                self.start_tracing()
            try:
                passes.append(self.timed_pass(traced))
            finally:
                if traced:
                    self.stop_tracing()
            rss_points.append(passes[-1]["rss_after_mb"])
            heap_points.append(passes[-1]["heap_after_mb"])
        self.record["passes"] = passes
        self.record["rss_after_pass_mb"] = rss_points
        self.record["heap_after_pass_mb"] = heap_points
        self.record["sink_tables_left"] = sum(
            t.name.startswith("__stream_sink_") for t in self.spark.catalog.listTables()
        )
        untraced = [p for p in passes if not p["traced"]]
        lat = [e["latency_s"] for p in untraced for e in p["executions"] if e["latency_s"]]
        metrics = {
            "setup_s": self.setup_s,
            "pass_s": median([p["wall_s"] for p in untraced]),
            "query_p50_s": median(lat) if lat else 0.0,
            "retained_heap_mb": heap_points[-1],
        }
        # The tail over every timed execution of the run; a run too short
        # for the rule reports 0 and says so.
        timed = [e["latency_s"] for p in passes for e in p["executions"] if e["latency_s"]]
        if len(timed) > TAIL_BEYOND:
            value, pct, n_lat = tail(timed)
        else:
            value, pct, n_lat = 0.0, None, len(timed)
        self.record["query_tail"] = {"value_s": value, "percentile": pct, "n": n_lat}
        if self.trace:
            metrics = self.layer_metrics([p for p in passes if p["traced"]], metrics)
            metrics["client.query_tail_s"] = value
            metrics["memory.peak_rss_mb"] = rss.peak / MB
            metrics["sink.rss_growth_mb_per_pass"] = median(_steps(rss_points))
            metrics["sink.heap_growth_mb_per_pass"] = median(_steps(heap_points))
        return metrics

    def layer_metrics(self, traced: list[dict], e2e: dict) -> dict:
        """Per-layer totals per traced pass, reported as the median over
        traced passes (micro-batch percentiles pool every traced batch)."""
        per_pass = [self._pass_layers(p) for p in traced]
        out = dict(self.layers)
        for key in per_pass[0]:
            out[key] = median([pp[key] for pp in per_pass])
        micro = [
            b["duration_ms"].get("triggerExecution", 0)
            for p in traced
            for e in p["executions"]
            for b in e["layers"]["batches"]
        ]
        out["streaming.microbatch_p50_ms"] = median(micro) if micro else 0.0
        mtail = tail(micro) if len(micro) > TAIL_BEYOND else (0.0, None, len(micro))
        out["streaming.microbatch_tail_ms"] = mtail[0]
        self.record["microbatch_tail"] = {"value_ms": mtail[0], "percentile": mtail[1], "n": mtail[2]}
        out["sink.tables_left"] = self.record["sink_tables_left"]
        out["trace.pass_s"] = median([p["wall_s"] for p in traced])
        passes = self.record["passes"]
        pairs = paired_overheads([(p["traced"], p["wall_s"]) for p in passes])
        out["trace.overhead_s"] = median(pairs)
        self.record["trace_overhead_pairs_s"] = pairs
        self.record["end_to_end_untraced_pass"] = e2e
        return out

    def _pass_layers(self, p: dict) -> dict:
        ids = {e["exec_id"] for e in p["executions"]}
        self_s = self.tracer.self_time_by_name(ids)
        lays = [e["layers"] for e in p["executions"]]
        store = [lay["store"] for lay in lays]
        batches = [b for lay in lays for b in lay["batches"]]
        state_ops = [op for b in batches for op in b["state"]]
        final = [op for lay in lays for op in lay["final_state"]]

        def dur(key: str) -> float:
            return sum(b["duration_ms"].get(key, 0) for b in batches)

        rows_total = sum(op["rows_total"] for op in final)
        instances = sum(op["instances"] for op in final)
        out = {
            "build.s": self_s.get("build", 0.0),
            "exec.s": sum(e.get("exec_s", 0.0) for e in p["executions"]),
            "streaming.drain_s": sum(lay["drain_s"] for lay in lays),
        }
        for phase in ("analysis", "optimization", "planning"):
            out[f"catalyst.{phase}_ms"] = sum(lay["phase_ms"].get(phase, 0.0) for lay in lays)
        out["catalyst.exchanges"] = sum(lay["exchanges"] for lay in lays)
        out["exec.broadcast_bytes"] = sum(lay["broadcast_bytes"] for lay in lays)
        out["exec.shuffle_partition_skew"] = max(lay["skew"] for lay in lays)
        for key in (
            "jobs", "stages", "tasks", "scan_rows", "scan_bytes",
            "shuffle_bytes", "shuffle_records", "spill_bytes",
        ):
            out[f"exec.{key}"] = sum(s[key] for s in store)
        # per second the queries ran, so the probes' reads between queries do not count
        run_s = sum(e["latency_s"] or 0.0 for e in p["executions"])
        out["exec.busy_cores"] = sum(s["task_run_ms"] for s in store) / 1e3 / run_s
        for key in ("total_ms", "boot_ms", "init_ms", "sent_bytes", "received_bytes", "rows_received"):
            out[f"python.{key}"] = sum(s["python"][key] for s in store)
        empty = [b for b in batches if b["rows"] == 0]
        out.update(
            {
                "streaming.batches": len(batches),
                "streaming.empty_batches": len(empty),
                "streaming.empty_batch_ms": sum(
                    b["duration_ms"].get("triggerExecution", 0) for b in empty
                ),
                "streaming.input_rows": sum(b["rows"] for b in batches),
                "streaming.add_batch_ms": dur("addBatch"),
                "streaming.query_planning_ms": dur("queryPlanning"),
                "streaming.wal_commit_ms": dur("walCommit"),
                "streaming.commit_offsets_ms": dur("commitOffsets"),
                "state.rows_total": rows_total,
                "state.rows_updated": sum(op["rows_updated"] for op in state_ops),
                "state.update_ms": sum(op["update_ms"] for op in state_ops),
                "state.removal_ms": sum(op["removal_ms"] for op in state_ops),
                "state.commit_ms": sum(op["commit_ms"] for op in state_ops),
                "state.memory_bytes": sum(op["memory_bytes"] for op in final),
                "state.instances": instances,
                "state.rows_per_instance": rows_total / instances if instances else 0.0,
            }
        )
        return out


def _no_span(name: str, parent=None, exec_id=None):
    return contextlib.nullcontext({"id": None})


def _steps(points: list[float]) -> list[float]:
    return [b - a for a, b in zip(points, points[1:])]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE} package in {ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    start_s = min(process_start_s(), _T_MAIN)
    for sub in ("runs", "spans"):
        os.makedirs(os.path.join(OUT, sub), exist_ok=True)

    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    rss = RssSampler()
    if args.trace:  # the peak is a per-layer metric; untraced runs only sample at pass ends
        rss.start()
    try:
        bench.set_up(start_s)
        values = bench.run(rss)
    finally:
        rss.stop()
        if hasattr(bench, "spark"):
            t_close = time.time()
            bench.close()
            bench.record["close_s"] = time.time() - t_close
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {
        check_metric_name(k): {"value": float(values[k]), "unit": u} for k, u in units.items()
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    bench.record.update(metrics=metrics, failures=bench.failures, attempted=bench.attempted)
    with open(os.path.join(OUT, "runs", f"{tag}.json"), "w") as fh:
        json.dump(bench.record, fh, indent=1, default=str)
    if bench.tracer is not None:
        bench.tracer.dump(os.path.join(OUT, "spans", f"{tag}.json"))

    failed = len(bench.failures)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} host={bench.record['host']}")
    print(f"# config={json.dumps(bench.record['config'])}")
    for name, m in metrics.items():
        print(f"{name:32s} {m['value']:>14.6g} {m['unit']}")
    print(f"{'failed_share':32s} {failed / bench.attempted:>14.6g} share")
    for label, key, unit in (("query", "query_tail", "s"), ("micro-batch", "microbatch_tail", "ms")):
        t = bench.record.get(key)
        if t is None:
            continue
        if t["percentile"] is None:
            print(f"# {label} tail: n={t['n']} samples support no tail")
        else:
            print(f"# {label} tail: {t['value_' + unit]:.6g} {unit} at p{t['percentile']:.1f} of n={t['n']}")
    if "trace_overhead_pairs_s" in bench.record:
        pairs = ", ".join(f"{d:.3f}" for d in bench.record["trace_overhead_pairs_s"])
        print(f"# trace overhead per pair of passes: {pairs} s")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": bench.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
