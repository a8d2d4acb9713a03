"""Per-layer tracing for the traced run, from outside the engine.

Nothing here changes engine code. A traced window:

* wraps the engine functions the workloads reach, in every engine module
  that looks them up by name: ``catalog.load_table`` (time, calls, and
  repeat returns of an already-seen DataFrame = the scan memo's hits),
  ``pipeline.high_water_mark``, ``pipeline.archive_files`` and
  ``streaming.run_to_memory_sink``;
* registers a ``QueryExecutionListener`` that reads each executed
  query's ``QueryPlanningTracker`` phases (Catalyst analysis,
  optimisation, planning);
* registers a ``StreamingQueryListener`` that keeps every micro-batch
  progress (``durationMs`` parts, input rows, state-operator metrics);
* tags every job launched outside a registry ``fn`` (the ``noop`` write,
  and the whole of an ETL operation) with a job group, so the jobs a
  query's ``fn`` launches itself can be counted;
* after the window, drains the listener bus and reads Spark's status
  stores (jobs, stages, SQL executions) for everything the window ran.

Listener callbacks cross py4j, so tracing costs time; the traced run
measures that cost against an untraced window of the same rounds.
"""

from __future__ import annotations

import json
import re
import sys
import time
from collections import defaultdict

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql.streaming import StreamingQueryListener

from projektdataengineering_spark import streaming
from projektdataengineering_spark.catalog import load_table
from projektdataengineering_spark.operators.incremental import high_water_mark
from projektdataengineering_spark.sources.archive import archive_files

from .workloads import quantile

EXEC_GROUP = "perfbench.exec"
_PKG = "projektdataengineering_spark"

# (function, timer name); every module-level reference to the function
# inside the engine package is wrapped, so callers that imported it by
# name are covered too.
_WRAPPED = (
    (load_table, "catalog.load_table"),
    (high_water_mark, "pipeline.hwm"),
    (archive_files, "pipeline.archive"),
    (streaming.run_to_memory_sink, "stream.drain"),
)

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _size_metric_bytes(text: str) -> float:
    """Total of a formatted Spark size metric ("total (...)\\n8.8 KiB (...)")."""
    m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)", text)
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0


class _PhaseListener:
    """py4j implementation of ``QueryExecutionListener``."""

    def __init__(self):
        self.phases = defaultdict(float)  # phase -> seconds

    def add(self, tracker):
        it = tracker.phases().iterator()
        while it.hasNext():
            kv = it.next()
            self.phases[kv._1()] += kv._2().durationMs() / 1000.0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM interface
        self.add(qe.tracker())

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - JVM interface
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self):
        self.progress = []

    def onQueryStarted(self, event):  # noqa: N802 - pyspark interface
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.progress.append(event.progress)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class Tracer:
    """Install with ``start()``, remove with ``stop()``, then ``layers()``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.time = defaultdict(float)
        self.calls = defaultdict(int)
        self.memo_hits = 0
        self._seen: dict[int, object] = {}
        self._patched: list[tuple[object, str, object]] = []
        self._phases = _PhaseListener()
        self._streams = _StreamListener()
        mapper = self.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(self.jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper

    # -- status stores ------------------------------------------------
    def _json(self, jobj):
        return json.loads(self._mapper.writeValueAsString(jobj))

    def _drain(self):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _jobs(self):
        return self._json(self.sc._jsc.sc().statusStore().jobsList(None))

    def _stages(self):
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        store = self.sc._jsc.sc().statusStore()
        return self._json(store.stageList(None, False, False, no_quantiles, None))

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _executions(self):
        return self._json(self._sql_store().executionsList())

    # -- wrapping -----------------------------------------------------
    def _wrap(self, fn, timer):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self.time[timer] += time.perf_counter() - t0
                self.calls[timer] += 1
            if timer == "catalog.load_table":
                if id(out) in self._seen:
                    self.memo_hits += 1
                self._seen[id(out)] = out  # holding it keeps the id unique
            return out

        return wrapper

    def start(self):
        self._drain()
        self._job_mark = max((j["jobId"] for j in self._jobs()), default=-1)
        self._exec_mark = max((e["executionId"] for e in self._executions()), default=-1)
        for fn, timer in _WRAPPED:
            wrapper = self._wrap(fn, timer)
            for name, mod in list(sys.modules.items()):
                if not (name == _PKG or name.startswith(_PKG + ".")):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapper)
                        self._patched.append((mod, attr, fn))
        ensure_callback_server_started(self.sc._gateway)
        self.spark._jsparkSession.listenerManager().register(self._phases)
        self.spark.streams.addListener(self._streams)

    def stop(self):
        for mod, attr, fn in self._patched:
            setattr(mod, attr, fn)
        self._patched.clear()
        self._drain()
        self.spark._jsparkSession.listenerManager().unregister(self._phases)
        self.spark.streams.removeListener(self._streams)

    def frame_built(self, df):
        """Catalyst phases already spent on a frame before any action
        (analysis happens when a DataFrame is built)."""
        self._phases.add(df._jdf.queryExecution().tracker())

    def exec_group(self, on: bool):
        """Tag (or untag) the jobs the calling thread launches next."""
        if on:
            self.sc.setJobGroup(EXEC_GROUP, "noop write", interruptOnCancel=False)
        else:
            self.sc._jsc.clearJobGroup()

    # -- results ------------------------------------------------------
    def layers(self, n_ops: int, wall_s: float, cores: int) -> dict[str, float]:
        """Per-layer metrics of the traced window. Totals are per
        operation, so a faster engine running more rounds in the same
        window does not read as more work."""
        per_op = 1.0 / max(n_ops, 1)
        jobs = [j for j in self._jobs() if j["jobId"] > self._job_mark]
        exec_jobs = set(self.sc.statusTracker().getJobIdsForGroup(EXEC_GROUP))
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self._stages()
            if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
        ]
        run_s = sum(s["executorRunTime"] for s in stages) / 1000.0
        out = {
            "queries.build_jobs": sum(j["jobId"] not in exec_jobs for j in jobs),
            "catalog.load_table_calls": self.calls["catalog.load_table"],
            "catalog.load_table_s": self.time["catalog.load_table"],
            "catalyst.analysis_s": self._phases.phases["analysis"],
            "catalyst.optimization_s": self._phases.phases["optimization"],
            "catalyst.planning_s": self._phases.phases["planning"],
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(
                s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"] for s in stages
            ),
            "exec.run_s": run_s,
            "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill.bytes": sum(s["diskBytesSpilled"] for s in stages),
            "io.input_bytes": sum(s["inputBytes"] for s in stages),
            "io.output_bytes": sum(s["outputBytes"] for s in stages),
            "pipeline.hwm_s": self.time["pipeline.hwm"],
            "pipeline.archive_s": self.time["pipeline.archive"],
            "stream.drain_s": self.time["stream.drain"],
        }
        out.update(self._python_metrics())
        out.update(self._stream_metrics())
        out = {k: v * per_op for k, v in out.items()}
        calls = self.calls["catalog.load_table"]
        out["catalog.memo_hit_ratio"] = self.memo_hits / calls if calls else 0.0
        out["exec.occupancy"] = run_s / (wall_s * cores)
        prog = self._streams.progress
        trig = [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in prog]
        out["stream.microbatch_p50_s"] = quantile(trig, 50)
        out["stream.microbatch_p90_s"] = quantile(trig, 90)
        out["stream.rows_per_s"] = sum(p.numInputRows for p in prog) / wall_s
        return out

    def _python_metrics(self) -> dict[str, float]:
        sent = rows = 0.0
        store = self._sql_store()
        for ex in self._executions():
            if ex["executionId"] <= self._exec_mark:
                continue
            if not any(m["name"] == "data sent to Python workers" for m in ex["metrics"]):
                continue
            values = ex.get("metricValues") or {}
            for node in self._json(store.planGraph(ex["executionId"]).allNodes()):
                acc = {m["name"]: str(m["accumulatorId"]) for m in node["metrics"]}
                if "data sent to Python workers" not in acc:
                    continue
                sent += _size_metric_bytes(values.get(acc["data sent to Python workers"], ""))
                n_rows = values.get(acc.get("number of output rows", ""), "0")
                rows += float(n_rows.replace(",", "") or 0)
        return {"python.bytes_sent": sent, "python.rows_received": rows}

    def _stream_metrics(self) -> dict[str, float]:
        prog = self._streams.progress
        dur = defaultdict(float)
        for p in prog:
            for k, v in p.durationMs.items():
                dur[k] += v / 1000.0
        last = {}  # runId -> last progress: the state size a run ends with
        for p in prog:
            last[p.runId] = p
        return {
            "stream.batches": len(prog),
            "stream.input_rows": sum(p.numInputRows for p in prog),
            "stream.add_batch_s": dur["addBatch"],
            "stream.query_planning_s": dur["queryPlanning"],
            "stream.wal_commit_s": dur["walCommit"],
            "stream.commit_offsets_s": dur["commitOffsets"],
            "state.rows_total": sum(
                so.numRowsTotal for p in last.values() for so in p.stateOperators
            ),
            "state.memory_bytes": sum(
                so.memoryUsedBytes for p in last.values() for so in p.stateOperators
            ),
            "state.commit_s": sum(
                so.commitTimeMs for p in prog for so in p.stateOperators
            ) / 1000.0,
        }
