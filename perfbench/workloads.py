"""The workloads: what one operation is, how a run warms up, and how its
outputs are checked.

Every workload is driven by one closed-loop client (one thread, the next
operation starts when the previous one returns). In the query workloads
the seed picks the order of the operations inside each round; in the ETL
workload it generates the landing files. A round always runs whole, so
the mix a run measures is the same for every seed.

Before the timed window each workload runs untimed warm rounds after its
cold pass: the first rounds after a cold pass still ran 10-30% slower
than later ones (JIT), and a run whose window ended on a still-warming
round read up to 15% slower. Short rounds get more of them.

The query workload runs a fixed panel of registry queries at sf0.01. One
operation is a query's ``fn`` plus a ``noop`` write of the frame it
returns. The cold pass at set-up collects every panel query once, and
that result is compared with the query's DuckDB oracle after the timed
windows. A panel is the affordable cut of its family set: every query in
it is warm under ~1.5 s and cold under ~3 s, so set-up, the windows and
the checks fit one short process. Left out for that reason: the
persisted-state builds that take 17-22 s cold (``sim_ivfpq_gen_serving``,
``stream_corpus_delta``, ``stream_embedding_delta``), the Python
data-source streams (``scan_python_stream[_parallel]``,
``sink_python_stream``, 4-6 s each), ``graph_pagerank`` (5.7 s cold,
and its warm time swings 1.4-2.3 s between runs) and the
``applyInPandasWithState`` streams (``stream_ewma_stateful``,
``stream_cdc_stateful``: with Python workers on every micro-batch their
latency swung the workload's median by over 10% between same-code runs).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

from projektdataengineering_spark.pipeline import run_incremental_batch
from projektdataengineering_spark.queries import load_registry
from projektdataengineering_spark.sources import WEATHER_CASTS, weather_raw_schema
from tools.verify_driver import TABLES, canon

from .etlgen import WeatherWeeks

# TPC-H-shaped and SQL-surface families, with the paper's serving reads
# (sort_limit_asc/desc = S1/S2). Driver-bound: fixed per-query cost.
RELATIONAL = (
    "scan_project_cast", "join_asof", "agg_rollup", "agg_pivot",
    "sort_limit_asc", "sort_limit_desc", "window_rank", "set_intersect",
    "scalar_json", "agg_product_profit", "subquery_scalar_select",
)
# Corpus and ML kernels plus stateful streaming: executor CPU, shuffle,
# Arrow UDF workers, an iterative job chain (connected components), a
# persisted signature-index build, micro-batches and state-store commits.
CORPUS_STREAM = (
    "multimodal_audio_features", "dedup_neardup_index_append", "dedup_cluster_cc",
    "stream_stream_join", "stream_dedup_within_watermark",
)
# One panel of both, so each run's window holds several whole rounds of
# either kind: the median op is a relational query's fixed cost, the p90
# a corpus or streaming kernel.
QUERY_MIX = RELATIONAL + CORPUS_STREAM

ETL_LAYERS = (
    "etl.rows_per_s", "etl.serve_p50_s", "etl.read_amp", "etl.useful_ratio",
    "etl.warehouse_files",
)


@dataclass
class Op:
    kind: str  # query name, or "batch"/"s1"/"s2"/"s3" for the ETL client
    latency_s: float
    build_s: float = 0.0  # time inside the registry ``fn``
    ok: bool = True
    result: object = None  # what the op returned, checked after the window
    expected: object = None


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); 0.0 for no values."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def result_digest(pdf) -> str:
    """Order-insensitive value hash under ``verify_driver.canon``'s rule."""
    cols, rows = canon(pdf)
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


class QueryPanel:
    def __init__(self, names: tuple[str, ...], warm_rounds: int):
        self.names = names
        self.warm_rounds = warm_rounds
        self.digests: dict[str, str | None] = {}  # None: the query raised
        self.rows: dict[str, int] = {}
        self._wrong: set[str] | None = None

    def setup(self, ctx) -> None:
        registry = load_registry()
        self.fns = {n: registry[n].fn for n in self.names}
        self.oracles = {n: registry[n].oracle for n in self.names}
        self.ctx = ctx
        for name in self.names:  # cold pass; its results are the ones checked
            try:
                pdf = self.fns[name](ctx.spark, ctx.sf_dir).toPandas()
                self.digests[name], self.rows[name] = result_digest(pdf), len(pdf)
            except Exception as exc:  # noqa: BLE001 - a failing query is a failed check
                ctx.log(f"cold pass of {name} failed: {type(exc).__name__}: {exc}")
                self.digests[name] = None

    def begin_window(self, tag: str) -> None:
        pass

    def layer_extras(self, n_ops: int, per_op_input_bytes: float, wall_s: float) -> dict:
        return dict.fromkeys(ETL_LAYERS, 0.0)  # no ETL pipeline runs here

    def round(self, rng: random.Random) -> list[str]:
        order = list(self.names)
        rng.shuffle(order)
        return order

    def op(self, name: str, tracer=None) -> Op:
        t0 = time.perf_counter()
        df = self.fns[name](self.ctx.spark, self.ctx.sf_dir)
        t1 = time.perf_counter()
        if tracer:
            tracer.frame_built(df)
            tracer.exec_group(True)
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            if tracer:
                tracer.exec_group(False)
        return Op(name, time.perf_counter() - t0, t1 - t0)

    def wrong_queries(self) -> set[str]:
        """Queries whose cold-pass result differs from the DuckDB oracle,
        or is empty where no oracle exists."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.ctx.sf_dir}/{t}.parquet'")
        wrong = set()
        for name in self.names:
            got, sql = self.digests.get(name), self.oracles[name]
            if got is None or (
                result_digest(con.execute(sql).df()) != got if sql else self.rows[name] == 0
            ):
                wrong.add(name)
        con.close()
        return wrong

    def check(self, ops: list[Op]) -> int:
        """Failed ops of a window: those that raised, and every op of a
        query whose result is wrong."""
        if self._wrong is None:
            self._wrong = self.wrong_queries()
            for name in sorted(self._wrong):
                self.ctx.log(f"wrong result: {name}")
        for op in ops:
            op.ok = op.ok and op.kind not in self._wrong
        return sum(not op.ok for op in ops)


class EtlIncremental:
    """The paper's weekly pipeline as a closed loop: land one generated
    week, run ``pipeline.run_incremental_batch`` into a parquet warehouse
    (archiving the landed files), then the reference client's reads S1/S2
    (``ORDER BY StartTimeUTC ASC|DESC LIMIT 200``, collected) and S3 (the
    full ordered scan, ``noop`` write). Each window starts from an empty
    warehouse."""

    warm_rounds = 4

    def setup(self, ctx) -> None:
        self.ctx = ctx
        self.begin_window("warm")
        # the bootstrap batch (no warehouse yet); the untimed warm rounds
        # that follow then run the incremental path (HWM + anti-join)
        for kind in self.round(None):
            self.op(kind)

    def begin_window(self, tag: str) -> None:
        self.root = Path(self.ctx.work) / f"etl_{tag}"
        shutil.rmtree(self.root, ignore_errors=True)
        self.landing = self.root / "landing"
        self.landing.mkdir(parents=True)
        self.warehouse = str(self.root / "warehouse")
        self.archive = str(self.root / "archive")
        self.gen = WeatherWeeks(self.ctx.seed)
        self.landed_files: list[str] = []
        self.landed_bytes = 0
        self.window_ops: list[Op] = []

    def round(self, rng) -> list[str]:
        return ["batch", "s1", "s2", "s3"]  # reads after each write

    def _serve(self, ascending: bool):
        df = self.ctx.spark.read.parquet(self.warehouse)
        key = df["StartTimeUTC"].asc() if ascending else df["StartTimeUTC"].desc()
        return [r["EventId"] for r in df.orderBy(key).limit(200).select("EventId").collect()]

    def op(self, kind: str, tracer=None) -> Op:
        if tracer:  # no registry ``fn`` here: no job counts as built in one
            tracer.exec_group(True)
        try:
            op = self._op(kind)
        finally:
            if tracer:
                tracer.exec_group(False)
        self.window_ops.append(op)
        return op

    def _op(self, kind: str) -> Op:
        spark = self.ctx.spark
        if kind == "batch":
            week = self.gen.next_week()  # landing the files is not timed
            for name, text in week.files:
                (self.landing / name).write_text(text)
                self.landed_files.append(name)
                self.landed_bytes += len(text.encode())
            t0 = time.perf_counter()
            res = run_incremental_batch(
                spark, str(self.landing), self.warehouse, self.archive, "weather",
                "StartTimeUTC", WEATHER_CASTS, weather_raw_schema(),
                key_col="EventId", now=week.when,
            )
            return Op(
                kind,
                time.perf_counter() - t0,
                result=(res.rows_written, len(res.archived)),
                expected=(week.fresh_rows, len(week.files)),
            )
        if kind in ("s1", "s2"):
            t0 = time.perf_counter()
            ids = self._serve(ascending=kind == "s1")
            want = self.gen.expected_first() if kind == "s1" else self.gen.expected_last()
            return Op(kind, time.perf_counter() - t0, result=ids, expected=want)
        t0 = time.perf_counter()
        spark.read.parquet(self.warehouse).orderBy("StartTimeUTC").write.format(
            "noop"
        ).mode("overwrite").save()
        return Op(kind, time.perf_counter() - t0)

    def check(self, ops: list[Op]) -> int:
        """Failed checks of the window just run: each op that raised or
        whose result differs from the generator's, plus one for each
        broken end-state invariant (row count, duplicate ids, files left
        unarchived)."""
        from pyspark.sql import functions as F

        for op in ops:
            if op.expected is not None and op.result != op.expected:
                op.ok = False
        bad = sum(not op.ok for op in ops)
        wh = self.ctx.spark.read.parquet(self.warehouse)
        n_rows = wh.count()
        n_dup = wh.groupBy("EventId").count().filter(F.col("count") > 1).count()
        archived = sorted(
            name.split("_", 1)[1] for _, _, files in os.walk(self.archive) for name in files
            if name.endswith(".csv")
        )
        invariants = (
            n_rows == self.gen.expected_rows,
            n_dup == 0,
            not any(self.landing.iterdir()),
            archived == sorted(self.landed_files),
        )
        for holds, what in zip(invariants, ("row count", "duplicate ids", "landing", "archive")):
            if not holds:
                self.ctx.log(f"etl invariant broken: {what}")
        return bad + invariants.count(False)

    def layer_extras(self, n_ops: int, per_op_input_bytes: float, wall_s: float) -> dict:
        serve = [op.latency_s for op in self.window_ops if op.kind in ("s1", "s2", "s3")]
        written = sum(op.result[0] for op in self.window_ops if op.kind == "batch")
        n_files = sum(
            name.endswith(".parquet") for _, _, files in os.walk(self.warehouse) for name in files
        )
        values = (
            self.gen.landed_rows / wall_s,
            quantile(serve, 50),
            per_op_input_bytes * n_ops / self.landed_bytes,
            written / self.gen.landed_rows,
            n_files,
        )
        return dict(zip(ETL_LAYERS, values))


WORKLOADS = {
    "query_mix": lambda: QueryPanel(QUERY_MIX, warm_rounds=2),
    "etl_incremental": EtlIncremental,
}
