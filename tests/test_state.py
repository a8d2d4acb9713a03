"""Persisted-state contract (projektdataengineering_spark/state.py): a
write-once artifact is installed whole or not at all, two writers on
one key end with one artifact, and a writer that dies mid-stage never
leaves anything a later call reads.
"""

from __future__ import annotations

import os
import threading

import numpy as np
import pytest

from projektdataengineering_spark.state import STAGE_INFIX, publish, state_path


def test_ivf_centroids_same_process_race_leaves_one_file(monkeypatch, tmp_path):
    """Two sessions of one process train the same IVF key at once and
    both stage before either renames. Each must return the trained
    array, and the key must end as exactly one .npy with no stage left
    behind. A pid-only staging name is shared by the two threads: the
    loser's rename and its cleanup then fail with FileNotFoundError."""
    from projektdataengineering_spark.queries import similarity as S

    path = str(tmp_path / "ivf" / "centroids_race.npy")
    monkeypatch.setattr(S, "_ivf_index_path", lambda sf_dir, k, gen: ("race", path))
    monkeypatch.setattr(S, "_IVF_CENTROID_CACHE", {})
    trained = threading.Barrier(2, timeout=30)

    def train(spark, e, k):
        trained.wait()  # both callers have missed the cache and the file
        return np.arange(12, dtype=np.float64).reshape(3, 4)

    monkeypatch.setattr(S, "_ivf_train_centroids", train)
    staged = threading.Barrier(2, timeout=30)
    real_rename = os.rename

    def rename(src, dst):
        if dst == path:
            staged.wait()  # both stages are written before either install
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    results: list = [None, None]
    errors: list = []

    def call(i):
        try:
            results[i] = S._ivf_centroids(None, "unused", None)
        except BaseException as exc:  # recorded, asserted below
            errors.append(exc)

    threads = [threading.Thread(target=call, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert errors == []
    np.testing.assert_array_equal(results[0], results[1])
    assert os.listdir(tmp_path / "ivf") == ["centroids_race.npy"]
    np.testing.assert_array_equal(np.load(path), results[0])


# ---------------------------------------------------------------------------
# Crash mid-stage: the writer dies with part of its stage on disk. The
# key must stay absent, the next call must rebuild an artifact equal to
# a clean build, and the stage must never be read.
# ---------------------------------------------------------------------------


class _Crash(RuntimeError):
    pass


def _crash_next_publish(monkeypatch, module):
    """The next publish through ``module`` dies mid-stage: it leaves the
    first bytes of a file (a directory holding one, for a table) where
    the writer was staging; later publishes run normally."""
    real = module.publish

    def crashing(write_fn, path):
        monkeypatch.setattr(module, "publish", real)

        def die_mid_stage(stage):
            target = stage
            if not path.endswith(".npy"):
                os.makedirs(stage)
                target = os.path.join(stage, "part-00000.parquet")
            with open(target, "wb") as fh:
                fh.write(b"PAR1\x15\x04")
            raise _Crash(stage)

        real(die_mid_stage, path)

    monkeypatch.setattr(module, "publish", crashing)


def _stages_of(path):
    parent, base = os.path.split(path)
    return [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if d.startswith(base + STAGE_INFIX)
    ]


def _crashed(crash):
    """(key, stage) of a crashed publish: the key is absent and the
    stage is the only one."""
    stage = crash.value.args[0]
    path = stage[: stage.rindex(STAGE_INFIX)]
    assert not os.path.exists(path)
    assert _stages_of(path) == [stage]
    return path, stage


@pytest.fixture
def state_root(monkeypatch, tmp_path):
    """Point STATE_ROOT at a fresh directory; returns a mover."""
    from projektdataengineering_spark import state

    def move(name):
        monkeypatch.setattr(state, "STATE_ROOT", str(tmp_path / name))

    return move


@pytest.mark.parametrize("kind", ["dir", "file"])
def test_publish_crash_mid_stage_leaves_key_absent(tmp_path, kind):
    path = str(tmp_path / "k" / "artifact")

    def write(content, die=False):
        def fn(stage):
            target = stage
            if kind == "dir":
                os.makedirs(stage)
                target = os.path.join(stage, "part-0")
            with open(target, "w") as fh:
                fh.write(content[:2] if die else content)
            if die:
                raise _Crash(stage)

        return fn

    def read():
        with open(os.path.join(path, "part-0") if kind == "dir" else path) as fh:
            return fh.read()

    with pytest.raises(_Crash) as crash:
        publish(write("partial", die=True), path)
    _, stage = _crashed(crash)
    publish(write("clean"), path)
    assert read() == "clean"
    assert _stages_of(path) == [stage]  # never adopted
    publish(write("other"), path)  # write-once: an installed key is kept
    assert read() == "clean"


def test_signature_index_crash_mid_stage_rebuilds(spark, sf_dir, monkeypatch, state_root):
    from projektdataengineering_spark.queries import pipeline_ops as P

    def build():
        return sorted(map(tuple, P._corpus_signature_index(spark, sf_dir).collect()))

    state_root("clean")
    clean = build()
    state_root("crash")
    _crash_next_publish(monkeypatch, P)
    with pytest.raises(_Crash) as crash:
        build()
    path, stage = _crashed(crash)
    builds = P._NEARDUP_INDEX_BUILDS
    assert build() == clean
    assert P._NEARDUP_INDEX_BUILDS == builds + 1
    assert _stages_of(path) == [stage]


@pytest.fixture(scope="module")
def ivf_trained(spark, sf_dir, tmp_path_factory):
    """(embeddings, centroids, PQ codebooks) of a clean build under a
    private state root."""
    from projektdataengineering_spark import state
    from projektdataengineering_spark.queries import similarity as S

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(state, "STATE_ROOT", str(tmp_path_factory.mktemp("ivf_clean")))
        mp.setattr(S, "_IVF_CENTROID_CACHE", {})
        mp.setattr(S, "_PQ_BOOK_CACHE", {})
        e = S._embeddings_normed(spark, sf_dir).select("vec_id", "vec").localCheckpoint()
        yield e, S._ivf_centroids(spark, sf_dir, e), S._pq_codebooks(spark, sf_dir, e)


@pytest.mark.parametrize("artifact", ["centroids", "pqbooks"])
def test_ivf_npy_crash_mid_stage_rebuilds(
    spark, sf_dir, monkeypatch, state_root, ivf_trained, artifact
):
    from projektdataengineering_spark.queries import similarity as S

    e, cents, books = ivf_trained
    build, clean = {
        "centroids": (S._ivf_centroids, cents),
        "pqbooks": (S._pq_codebooks, books),
    }[artifact]
    state_root("crash")
    monkeypatch.setattr(S, "_IVF_CENTROID_CACHE", {})
    monkeypatch.setattr(S, "_PQ_BOOK_CACHE", {})
    _crash_next_publish(monkeypatch, S)
    with pytest.raises(_Crash) as crash:
        build(spark, sf_dir, e)
    path, stage = _crashed(crash)
    assert os.path.basename(path).startswith(artifact)
    np.testing.assert_array_equal(build(spark, sf_dir, e), clean)
    np.testing.assert_array_equal(np.load(path), clean)
    assert _stages_of(path) == [stage]


def test_ivfpq_code_table_crash_mid_stage_rebuilds(
    spark, sf_dir, monkeypatch, state_root, ivf_trained
):
    from projektdataengineering_spark.queries import similarity as S

    _, cents, books = ivf_trained
    bc_c = spark.sparkContext.broadcast(cents)
    bc_b = spark.sparkContext.broadcast(books)

    def build():
        return sorted(
            (r["cell"], r["vec_id"], tuple(r["codes"]))
            for r in S._ivfpq_code_index(spark, sf_dir, bc_c, bc_b).collect()
        )

    state_root("clean")
    clean = build()
    state_root("crash")
    _crash_next_publish(monkeypatch, S)
    with pytest.raises(_Crash) as crash:
        build()
    path, stage = _crashed(crash)
    runs = S._IVFPQ_ENCODE_RUNS
    assert build() == clean
    assert S._IVFPQ_ENCODE_RUNS == runs + 1
    assert _stages_of(path) == [stage]


def test_ensure_bucketed_crash_mid_stage_rebuilds(spark, monkeypatch, state_root):
    from projektdataengineering_spark import sources

    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")

    def build(name):
        sources.ensure_bucketed(spark, df, name, state_path("bucketed", name), ("k",), 4)
        return sorted(map(tuple, spark.table(name).collect()))

    state_root("buckets")
    try:
        clean = build("state_crash_clean")
        _crash_next_publish(monkeypatch, sources)
        with pytest.raises(_Crash) as crash:
            build("state_crash_rebuilt")
        path, stage = _crashed(crash)
        assert not spark.catalog.tableExists("state_crash_rebuilt")
        assert build("state_crash_rebuilt") == clean
        assert _stages_of(path) == [stage]
    finally:
        for name in ("state_crash_clean", "state_crash_rebuilt"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
