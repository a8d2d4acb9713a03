"""Benchmark of the spark-graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. The engine runs in this process on
``local[N]`` (N = min(4, usable cores) - 1) with a 2 GB driver heap; one
client thread issues one operation at a time. Every run starts from the
same state: engine-persisted state (``.scratch/``), Spark local dirs,
the warehouse dir, streaming checkpoints and the ETL dirs are removed
before set-up, so cold builds land in ``setup_s`` every run.

A run: set-up (session, first job, the workload's cold pass and its
untimed warm rounds), then a timed window of whole rounds lasting at least
``--seconds``, then the output checks. ``--trace 1`` adds a second,
traced window of the same number of rounds and reports per-layer
metrics (see ``trace.py``) instead of the end-to-end ones, plus the
tracing overhead on ``ops_per_s``.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
the line before it carries the run's context (cores, master, versions,
host-speed probe, failed ratio).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
# one core is left to the driver: the client thread, py4j, JIT and GC
CORES = max(1, min(4, len(os.sched_getaffinity(0))) - 1)
DRIVER_MEM = "2g"


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    seed: int
    work: Path

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _declared() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _fresh_state(work: Path) -> None:
    """Same starting state every run: no engine-persisted state, no
    leftovers of an earlier run."""
    shutil.rmtree(ROOT / ".scratch", ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True)


def _pin_resources(work: Path) -> None:
    """Process-local settings, inherited by the JVM and Python workers."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no JVM perf-data files in the system temp dir (launcher and driver)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def _become_subreaper() -> None:
    """Processes orphaned below this one (Python workers whose JVM has
    ended) are re-parented here, so they can be waited for."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _descendants() -> set[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    found, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, p in parent.items() if p == pid and c not in found]
        found.update(kids)
        frontier.extend(kids)
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap() -> None:
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def _stop_processes(grace_s: float = 30.0) -> None:
    """Stop every process this run started (the Spark JVM and its Python
    workers) and wait until each has ended. The JVM is asked to exit by
    closing its stdin; whatever is left after ``grace_s`` is killed."""
    pids = _descendants()
    gateway = getattr(sys.modules.get("pyspark"), "SparkContext", None)
    gateway = getattr(gateway, "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        below = _descendants()  # includes exited children not yet waited for
        pids |= below
        left = below | {p for p in pids if _alive(p)}
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if time.monotonic() > deadline + 10:
                print(f"perfbench: processes did not end: {left}", file=sys.stderr)
                return
        time.sleep(0.05)


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def _window(wl, seconds: float, seed: int, rounds: int | None, tracer=None):
    """Closed loop over whole rounds: until ``seconds`` have passed, or
    exactly ``rounds`` rounds. Returns (ops, wall_s, round_walls, hygiene_s).

    Before each round the loop unpersists RDD blocks the previous round
    left pinned (the ``localCheckpoint`` loops of the iterative kernels);
    that time stays inside the window wall."""
    from perfbench.workloads import Op

    spark = wl.ctx.spark
    rng = random.Random(f"order:{seed}")
    ops, hygiene, walls = [], 0.0, []
    t0 = time.perf_counter()
    while (rounds is None and time.perf_counter() - t0 < seconds) or (
        rounds is not None and len(walls) < rounds
    ):
        t_round = time.perf_counter()
        for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)
        hygiene += time.perf_counter() - t_round
        for item in wl.round(rng):
            t_op = time.perf_counter()
            try:
                ops.append(wl.op(item, tracer))
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                wl.ctx.log(f"op {item} failed: {type(exc).__name__}: {exc}")
                ops.append(Op(item, time.perf_counter() - t_op, ok=False))
        walls.append(time.perf_counter() - t_round)
    return ops, time.perf_counter() - t0, walls, hygiene


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import pyspark

        from __spark_entry__ import SF0001
        from perfbench.workloads import WORKLOADS, quantile
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sf_dir = os.path.join(os.path.dirname(SF0001), "sf0.01")  # read-only fixtures
    if not os.path.isdir(sf_dir):
        print(f"perfbench: fixtures not found at {sf_dir}", file=sys.stderr)
        return 2
    declared = _declared()

    work = ROOT / ".perfbench_run"
    _fresh_state(work)
    _pin_resources(work)

    from projektdataengineering_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    get_spark_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        # the JVM's first job, and the Python worker pool
        spark.range(32).repartition(CORES).mapInPandas(lambda it: it, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        warmup_s = time.perf_counter() - t

        ctx = Ctx(spark, sf_dir, args.seed, work)
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        _window(wl, 0, args.seed, wl.warm_rounds)
        setup_s = time.perf_counter() - T_PROCESS
        ctx.log(f"ready after {setup_s:.1f} s (session {get_spark_s:.1f} s, warm-up {warmup_s:.1f} s)")

        wl.begin_window("timed")
        ops, wall, round_walls, hygiene = _window(wl, args.seconds, args.seed, None)
        failed = wl.check(ops)
        attempted = len(ops)
        lat = [op.latency_s for op in ops if op.ok] or [op.latency_s for op in ops]
        ops_per_s = len(ops) / wall
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": quantile(lat, 50),
            "ops_per_s": ops_per_s,
        }

        if args.trace:
            from perfbench.trace import Tracer

            wl.begin_window("traced")
            tracer = Tracer(spark)
            tracer.start()
            try:
                t_ops, t_wall, _, t_hygiene = _window(
                    wl, args.seconds, args.seed, len(round_walls), tracer
                )
            finally:
                tracer.stop()
            failed += wl.check(t_ops)
            attempted += len(t_ops)
            layers = tracer.layers(len(t_ops), t_wall, CORES)
            layers.update(
                {
                    "session.get_spark_s": get_spark_s,
                    "session.warmup_s": warmup_s,
                    "bench.hygiene_s": t_hygiene / len(t_ops),
                    "queries.build_s": sum(op.build_s for op in t_ops) / len(t_ops),
                    "trace.ops_per_s": len(t_ops) / t_wall,
                    "trace.overhead_ops_per_s": len(t_ops) / t_wall - ops_per_s,
                }
            )
            layers.update(wl.layer_extras(len(t_ops), layers["io.input_bytes"], t_wall))
            metrics = layers
        metrics["jvm.peak_rss_mb"] = _peak_rss_mb(spark)
        java = spark._jvm.java.lang.System.getProperty("java.version")
        master = spark.sparkContext.master
        driver_mem = spark.sparkContext.getConf().get("spark.driver.memory")
    finally:
        spark.stop()
    from bench import _calibrate  # host-speed probe, outside every timer

    want = declared[args.trace]
    missing = sorted(set(want) - set(metrics))
    if missing:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": CORES,
        "master": master,
        "driver_memory": driver_mem,
        "pyspark": pyspark.__version__,
        "java": java,
        "calib_sec": _calibrate(),
        "sf_dir": sf_dir,
        "ops": len(ops),
        "window_s": wall,
        "round_s": round_walls,
        "hygiene_s": hygiene,
        "failed_ratio": failed / attempted,
        "op_p90_s": quantile(lat, 90),
        "op_p50_s_by_kind": {
            kind: statistics.median(op.latency_s for op in ops if op.kind == kind)
            for kind in sorted({op.kind for op in ops})
        },
    }
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in want.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    try:
        code = main()
    finally:
        _stop_processes()
    raise SystemExit(code)
