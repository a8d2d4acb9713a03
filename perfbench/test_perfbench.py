"""Smoke tests of the benchmark itself (not part of the engine's suite).

    python -m pytest perfbench/test_perfbench.py -q

Each workload runs a one-second window and must print every declared
metric with its declared unit; a corrupted result must count as a failed
operation. The runs remove ``.scratch/`` and ``.perfbench_run/``
at the repository root, as every benchmark run does.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.etlgen import WeatherWeeks  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS,
    EtlIncremental,
    Op,
    QueryPanel,
    result_digest,
)
from __spark_entry__ import SF0001  # noqa: E402
from tools.verify_driver import TABLES  # noqa: E402


def _declared(kind: str) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_run_prints_every_declared_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert not _left_running(), "the run left its JVM or Python workers behind"


def _left_running() -> list[str]:
    """The JVM of a benchmark session, still running or not yet waited for."""
    left = []
    for entry in Path("/proc").iterdir():
        try:
            argv = (entry / "cmdline").read_bytes().split(b"\0")
            stat = (entry / "stat").read_text()
        except (OSError, ValueError):
            continue
        if b"spark.app.name=perfbench" in argv or (
            stat.rsplit(")", 1)[1].split()[0] == "Z" and "(java)" in stat
        ):
            left.append(f"{entry.name}: {stat[:60]}")
    return left


def test_corrupted_query_result_counts_as_failed():
    import duckdb

    name = "sort_limit_asc"
    panel = QueryPanel((name,), warm_rounds=1)
    panel.ctx = SimpleNamespace(sf_dir=SF0001, log=lambda msg: None)
    from projektdataengineering_spark.queries import load_registry

    panel.oracles = {name: load_registry()[name].oracle}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF0001}/{t}.parquet'")
    truth = con.execute(panel.oracles[name]).df()
    corrupted = truth.copy()
    corrupted.iloc[0, 0] = corrupted.iloc[1, 0]

    panel.digests = {name: result_digest(truth)}
    assert panel.check([Op(name, 0.1), Op(name, 0.1)]) == 0
    panel._wrong = None
    panel.digests = {name: result_digest(corrupted)}
    assert panel.check([Op(name, 0.1), Op(name, 0.1)]) == 2


def test_etl_generator_is_deterministic_per_seed():
    a, b, c = WeatherWeeks(3), WeatherWeeks(3), WeatherWeeks(4)
    weeks_a = [a.next_week() for _ in range(3)]
    assert weeks_a == [b.next_week() for _ in range(3)]
    assert weeks_a[0].files != c.next_week().files
    assert a.expected_rows == sum(w.fresh_rows for w in weeks_a)
    assert a.landed_rows > a.expected_rows  # replays, late ids, boundary rows
    assert len(set(a.expected_last())) == 200


def test_corrupted_etl_result_and_duplicate_rows_count_as_failed(tmp_path):
    from projektdataengineering_spark.session import get_spark

    spark = get_spark(app_name="perfbench-test", master="local[2]")
    etl = EtlIncremental()
    etl.ctx = SimpleNamespace(spark=spark, seed=5, work=tmp_path, log=lambda msg: None)
    etl.begin_window("t")
    ops = [etl.op(kind) for kind in etl.round(None) * 2]
    assert etl.check(ops) == 0

    ops[-2].result = list(reversed(ops[-2].result))  # s2 of the last round
    spark.read.parquet(etl.warehouse).limit(1).write.mode("append").parquet(etl.warehouse)
    # the corrupted read, plus the row count and duplicate-id invariants
    assert etl.check(ops) == 3
