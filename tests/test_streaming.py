"""Streaming-mode mirrors: the SAME transformation functions used by the
batch registry queries are driven under readStream (bounded file source,
availableNow trigger, memory sink) and must agree with their batch
results — the unified-API guarantee the streaming module is built on.
"""

from __future__ import annotations

from projektdataengineering_spark.catalog import load_table
from projektdataengineering_spark.streaming import (
    open_event_stream,
    run_to_memory_sink,
    session_windows,
    sliding_avg,
    tumbling_counts,
)


def _canon(df):
    return sorted(map(tuple, (tuple(r) for r in df.collect())))


def _co_resident(spark, candidates, n=2):
    """The first ``n`` candidate keys that bucketed_fold's own bucket
    expression puts in one state bucket."""
    from pyspark.sql import functions as F

    from projektdataengineering_spark.streaming.stateful import state_bucket

    groups = {}
    for r in (
        spark.createDataFrame([(c,) for c in candidates], ["k"])
        .select("k", state_bucket(F.col("k")).alias("b"))
        .collect()
    ):
        groups.setdefault(r["b"], []).append(r["k"])
    return next(g[:n] for g in groups.values() if len(g) >= n)


def test_stream_tumbling_matches_batch(spark, sf_dir):
    batch = tumbling_counts(load_table(spark, sf_dir, "events"))
    stream = tumbling_counts(open_event_stream(spark, sf_dir))
    run_to_memory_sink(stream, "tumbling_out", output_mode="complete")
    assert _canon(spark.table("tumbling_out")) == _canon(batch)


def test_stream_sliding_matches_batch(spark, sf_dir):
    batch = sliding_avg(load_table(spark, sf_dir, "events"))
    stream = sliding_avg(open_event_stream(spark, sf_dir))
    run_to_memory_sink(stream, "sliding_out", output_mode="complete")
    assert _canon(spark.table("sliding_out")) == _canon(batch)


def test_stream_session_windows_with_watermark(spark, sf_dir):
    """Session windows under a watermark (append mode): every finalized
    streaming session must be a batch session — the watermark may hold
    back only the most recent (non-finalized) windows."""
    batch = set(_canon(session_windows(load_table(spark, sf_dir, "events"))))
    stream = session_windows(
        open_event_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    )
    run_to_memory_sink(stream, "session_out", output_mode="append")
    emitted = set(_canon(spark.table("session_out")))
    assert emitted, "watermarked session stream emitted nothing"
    assert emitted <= batch, "streaming emitted a session batch mode doesn't have"


def test_stateful_dedup_first_wins(spark, sf_dir, tmp_path):
    """Custom stateful operator (applyInPandasWithState): cross-batch
    first-wins dedup. Two files + maxFilesPerTrigger=1 force two
    micro-batches through one query; keyed state must carry the
    first-seen timestamp across them and count every later duplicate."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import dedup_fold_stream

    src = tmp_path / "stream_src"
    src.mkdir()
    b1 = pd.DataFrame(
        {
            "key": ["a", "a", "b"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:10:00", "2024-01-01 00:05:00"]
            ),
        }
    )
    b1.to_parquet(src / "batch1.parquet", coerce_timestamps="us")
    b2 = pd.DataFrame(
        {
            "key": ["a", "b", "b"],
            "ts": pd.to_datetime(
                ["2024-01-02 00:00:00", "2024-01-02 00:01:00", "2024-01-02 00:02:00"]
            ),
        }
    )
    b2.to_parquet(src / "batch2.parquet", coerce_timestamps="us")
    # file source orders micro-batches by modification time — pin it
    now = time.time()
    os.utime(src / "batch1.parquet", (now - 60, now - 60))
    os.utime(src / "batch2.parquet", (now, now))

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = dedup_fold_stream(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # update-mode memory sink appends each micro-batch's emissions; the
    # final state per key is the row with the highest drop count
    rows = spark.table("dedup_out").collect()
    assert len(rows) == 4, rows  # (a,b) emitted in both micro-batches
    final = {}
    for r in rows:
        if r["key"] not in final or r["n_dropped"] > final[r["key"]]["n_dropped"]:
            final[r["key"]] = r
    assert final["a"]["n_dropped"] == 2  # 1 in-batch dup + 1 cross-batch
    assert final["b"]["n_dropped"] == 2  # 2 cross-batch dups
    # first-seen timestamps survive across micro-batches in keyed state
    assert final["a"]["first_ts"] == pd.Timestamp("2024-01-01 00:00:00")
    assert final["b"]["first_ts"] == pd.Timestamp("2024-01-01 00:05:00")


def test_foreachbatch_sink_is_idempotent(spark, sf_dir, tmp_path):
    """write_stream_idempotent: replaying the stream with the SAME
    checkpoint must add zero rows (epoch-partitioned dynamic overwrite
    absorbs at-least-once replays); a fresh checkpoint re-processes."""
    from projektdataengineering_spark.streaming import (
        open_event_stream,
        write_stream_idempotent,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = open_event_stream(spark, sf_dir).select("event_id", "ts", "event_type")

    write_stream_idempotent(stream, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # same checkpoint: source is exhausted, no new epochs, same rows
    stream2 = open_event_stream(spark, sf_dir).select("event_id", "ts", "event_type")
    write_stream_idempotent(stream2, out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n2 == n1

    # every event exactly once vs the batch read
    from projektdataengineering_spark.catalog import load_table

    n_batch = load_table(spark, sf_dir, "events").count()
    assert n1 == n_batch


def test_stream_ewma_equals_batch_ewma(spark, sf_dir):
    """The stateful streaming EWMA must reproduce the batch operator's
    fold bit-for-bit on a bounded in-order fixture (same alpha, same
    (ts, event_id) order)."""
    from projektdataengineering_spark.queries.streaming_batch import (
        stream_ewma_stateful,
    )
    from projektdataengineering_spark.queries.timeseries import pipeline_ewma_smooth

    batch = {
        r["user_id"]: (r["n_events"], r["last_ewma"])
        for r in pipeline_ewma_smooth(spark, sf_dir).collect()
    }
    stream = {
        r["user_id"]: (r["n_events"], r["last_ewma"])
        for r in stream_ewma_stateful(spark, sf_dir).collect()
    }
    assert batch == stream


def test_stateful_dedup_horizon_evicts_and_reemits(spark, sf_dir, tmp_path):
    """Bounded dedup horizon (round-7): a key idle past the horizon is
    swept from keyed state once the watermark passes last_seen +
    horizon, and its next occurrence re-emits as a fresh first
    (n_dropped restarts at 0). Keys active within the horizon keep
    their state across the same boundary. State rows count buckets,
    not keys, so the contract is asserted on the emitted rows."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import dedup_fold_stream

    src = tmp_path / "stream_src"
    src.mkdir()
    batches = [
        # b1: keys a (dup in batch) and b
        (["a", "a", "b"],
         ["2024-01-01 00:00:00", "2024-01-01 00:10:00", "2024-01-01 00:05:00"]),
        # b2: 10 days later (horizon = 2 days) — a returns (stays warm),
        # c is new; advances the watermark past b's expiry
        (["a", "c"], ["2024-01-11 00:00:00", "2024-01-11 00:01:00"]),
        # b3: unrelated key d — the first batch whose watermark is
        # past b's deadline: b's bucket is swept (by its timeout, or
        # eagerly if d shares the bucket)
        (["d"], ["2024-01-11 00:02:00"]),
        # b4: b returns after eviction — must re-emit as a fresh FIRST
        (["b"], ["2024-01-12 00:00:00"]),
    ]
    now = time.time()
    for i, (keys, tss) in enumerate(batches):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame({"key": keys, "ts": pd.to_datetime(tss)}).to_parquet(
            f, coerce_timestamps="us"
        )
        os.utime(f, (now - 80 + 20 * i, now - 80 + 20 * i))

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 second")
    )
    out = dedup_fold_stream(stream, horizon="2 days")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("dedup_horizon_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.table("dedup_horizon_out").collect()
    # c and d are single fresh firsts
    assert {(r["key"], r["n_dropped"]) for r in rows if r["key"] in ("c", "d")} == {
        ("c", 0),
        ("d", 0),
    }, rows
    b_rows = {(r["first_ts"], r["n_dropped"]) for r in rows if r["key"] == "b"}
    # re-emission as a FIRST after eviction: the post-horizon arrival
    # carries its own ts and n_dropped=0 (surviving state would have
    # emitted (2024-01-01 00:05, 1) instead)
    assert b_rows == {
        (pd.Timestamp("2024-01-01 00:05:00"), 0),
        (pd.Timestamp("2024-01-12 00:00:00"), 0),
    }, b_rows
    # a stayed warm across the same boundary: cross-batch dup counted
    a_final = max((r for r in rows if r["key"] == "a"), key=lambda r: r["n_dropped"])
    assert a_final["n_dropped"] == 2
    assert a_final["first_ts"] == pd.Timestamp("2024-01-01 00:00:00")


def test_stream_heavy_hitters_mg_reduce_across_batches(spark, tmp_path):
    """Streaming MG state (streaming/stateful.py:heavy_hitters_stream)
    with a tiny k so the PODS'12 reduce actually fires mid-stream: the
    final summary must keep the MG theorems across micro-batch
    boundaries (underestimate-only, error <= n_bucket/(k+1), heavy
    terms present) and carry per-bucket batch counters."""
    import os
    import time
    from collections import Counter

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import heavy_hitters_stream

    k = 3
    # one bucket (0); a heavy term among chaff, split across 2 batches
    b1 = ["hot"] * 12 + ["a", "b", "c", "d", "e", "a", "b"]
    b2 = ["hot"] * 9 + ["f", "g", "h", "a", "f"]
    src = tmp_path / "mg_src"
    src.mkdir()
    now = time.time()
    for i, terms in enumerate([b1, b2]):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame({"bucket": [0] * len(terms), "term": terms}).to_parquet(f)
        os.utime(f, (now - 40 + 20 * i, now - 40 + 20 * i))

    stream = (
        spark.readStream.schema("bucket long, term string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .selectExpr("CAST(bucket AS INT) AS bucket", "term")
    )
    q = (
        heavy_hitters_stream(stream, k=k)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("mg_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_mg"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.table("mg_stream_out").collect()
    max_bno = max(r["batch_no"] for r in rows)
    assert max_bno == 2, sorted({r["batch_no"] for r in rows})
    final = {r["term"]: r["est"] for r in rows if r["batch_no"] == max_bno}
    assert len(final) <= k
    exact = Counter(b1 + b2)
    n = sum(exact.values())
    bound = n / (k + 1)
    for t, e in final.items():
        assert e <= exact[t], (t, e, exact[t])
    for t, c in exact.items():
        assert c - final.get(t, 0) <= bound, (t, c, final.get(t, 0), bound)
        if c > bound:
            assert t in final, (t, c, bound)
    # the heavy term's estimate must dominate the chaff's
    assert final["hot"] == max(final.values())


def test_stateful_dedup_late_batch_cannot_shrink_horizon(spark, tmp_path):
    """Round-8 ADVICE regression: the eviction deadline anchors to the
    max event time EVER seen for the key, not the current batch's max.
    A later out-of-order (within-watermark) batch with OLDER rows must
    not move the timeout backward — otherwise the key evicts before
    last-occurrence + horizon and a within-horizon duplicate re-emits
    as a fresh first."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import dedup_fold_stream

    src = tmp_path / "late_src"
    src.mkdir()
    batches = [
        # b1: a @ Jan-20 → deadline Jan-22 (horizon 2 days)
        (["a"], ["2024-01-20 00:00:00"]),
        # b2: a again, 10 days OLDER but inside the 30-day watermark.
        # Unclamped, this would drag the deadline back to Jan-12.
        (["a"], ["2024-01-10 00:00:00"]),
        # b3: watermark advances to Jan-16 — past the buggy Jan-12
        # deadline, NOT past the correct Jan-22 one
        (["z"], ["2024-02-15 00:00:00"]),
        # b4: the first batch whose watermark (Jan-16) passes the buggy
        # deadline — a buggy sweep would evict a here
        (["z"], ["2024-02-15 00:01:00"]),
        # b5: a returns within wm — must still be a DUPLICATE of Jan-20
        (["a"], ["2024-02-16 00:00:00"]),
    ]
    now = time.time()
    for i, (keys, tss) in enumerate(batches):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame({"key": keys, "ts": pd.to_datetime(tss)}).to_parquet(
            f, coerce_timestamps="us"
        )
        os.utime(f, (now - 100 + 20 * i, now - 100 + 20 * i))

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "30 days")
    )
    out = dedup_fold_stream(stream, horizon="2 days")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("dedup_clamp_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_clamp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.table("dedup_clamp_out").collect()
    a_rows = {(r["first_ts"], r["n_dropped"]) for r in rows if r["key"] == "a"}
    # every a-emission keeps the original first; the b5 arrival counts
    # as the 2nd dropped duplicate — an eviction bug would surface as a
    # fresh (2024-02-16, 0) first instead
    assert a_rows == {
        (pd.Timestamp("2024-01-20 00:00:00"), 0),
        (pd.Timestamp("2024-01-20 00:00:00"), 1),
        (pd.Timestamp("2024-01-20 00:00:00"), 2),
    }, a_rows


def test_stream_cdc_bucketed_state_machine_across_batches(spark, tmp_path):
    """The CDC fold (cdc_fold_stream) across ordered micro-batches:
    generation counts must carry over a batch boundary, a tombstone at
    a boundary must close the generation, and a post-tombstone
    re-insert in a LATER batch must open a fresh one — with the two
    keys sharing one state bucket kept fully independent."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import cdc_fold_stream

    u1, u2 = _co_resident(spark, [f"u{i}" for i in range(200)])

    def rows(eid0, ts0, spec):
        return pd.DataFrame(
            {
                "key": [k for k, _ in spec],
                "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=ts0 + i) for i in range(len(spec))],
                "event_id": [eid0 + i for i in range(len(spec))],
                "event_type": [t for _, t in spec],
            }
        )

    # batch 1: u1 upserts twice; u2 upsert then tombstone (dead at boundary)
    b1 = rows(0, 0, [(u1, "click"), (u2, "view"), (u1, "view"), (u2, "error")])
    # batch 2: u1 tombstone then re-insert (fresh generation);
    #          u2 re-inserts after its batch-1 tombstone
    b2 = rows(10, 100, [(u1, "error"), (u1, "purchase"), (u2, "click"), (u2, "view")])
    src = tmp_path / "cdc_src"
    src.mkdir()
    now = time.time()
    for i, b in enumerate([b1, b2]):
        f = src / f"batch{i + 1}.parquet"
        b.astype({"ts": "datetime64[us]"}).to_parquet(f)
        os.utime(f, (now - 40 + 20 * i, now - 40 + 20 * i))

    stream = (
        spark.readStream.schema("key string, ts timestamp, event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        cdc_fold_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("cdc_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.table("cdc_stream_out").toPandas()
    final = {r["key"]: r for _, r in out.sort_values("n_seen").iterrows()}  # last update wins
    f1, f2 = final[u1], final[u2]
    # u1: 2 upserts | tombstone + re-insert -> 1 tombstone, alive,
    # open generation has exactly the re-inserted row
    assert (f1["n_tombstones"], f1["alive"], f1["gen_events"], f1["n_seen"]) == (1, True, 1, 4)
    assert f1["last_event_type"] == "purchase"
    # u2: upsert+tombstone | 2 re-inserts -> dead at the boundary, then
    # a fresh 2-event generation
    assert (f2["n_tombstones"], f2["alive"], f2["gen_events"], f2["n_seen"]) == (1, True, 2, 4)
    # and the mid-stream state after batch 1 must have shown u2 dead
    mid = out[(out["key"] == u2) & (out["n_seen"] == 2)].iloc[0]
    assert not mid["alive"] and mid["gen_events"] == 0 and mid["n_tombstones"] == 1


def test_stream_ewma_carries_state_across_batches(spark, tmp_path):
    """The EWMA fold (ewma_fold_stream) must carry (n, s) across
    micro-batches with the scalar recurrence, keep co-resident users'
    state apart, skip NULL values — and still emit a row for a user
    whose only rows in a batch are NULL (one row per key of the batch
    that has state)."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import ewma_fold_stream

    u1, u2, u3, u4 = _co_resident(spark, list(range(1, 2000)), n=4)

    def rows(eid0, ts0, spec):
        return pd.DataFrame(
            {
                "user_id": [u for u, _ in spec],
                "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=ts0 + i) for i in range(len(spec))],
                "event_id": [eid0 + i for i in range(len(spec))],
                "value": [v for _, v in spec],
            }
        )

    b1 = rows(0, 0, [(u1, 10.0), (u2, 5.0), (u1, None), (u1, 7.0), (u4, 6.0)])
    # u4's only batch-2 row is NULL: its carried state is re-emitted
    b2 = rows(10, 100, [(u2, 1.0), (u1, 3.0), (u3, 2.5), (u2, None), (u4, None)])
    src = tmp_path / "ewma_src"
    src.mkdir()
    now = time.time()
    for i, b in enumerate([b1, b2]):
        f = src / f"batch{i + 1}.parquet"
        b.astype({"ts": "datetime64[us]"}).to_parquet(f)
        os.utime(f, (now - 40 + 20 * i, now - 40 + 20 * i))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        ewma_fold_stream(stream, alpha=0.25)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ewma"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        (r["user_id"], r["n_events"], r["last_ewma"])
        for r in spark.table("ewma_stream_out").collect()
    )
    assert got == sorted([
        # batch 1
        (u1, 2, 0.25 * 7.0 + 0.75 * 10.0),
        (u2, 1, 5.0),
        (u4, 1, 6.0),
        # batch 2
        (u1, 3, 0.25 * 3.0 + 0.75 * (0.25 * 7.0 + 0.75 * 10.0)),
        (u2, 2, 0.25 * 1.0 + 0.75 * 5.0),
        (u3, 1, 2.5),
        (u4, 1, 6.0),
    ]), got


def test_attribution_stream_carries_touch_state_across_batches(spark, tmp_path):
    """stream_attribution's fold: the (first, last) touch state must
    carry across micro-batches — a purchase in batch 2 credits a
    channel seen only in batch 1; first-touch stays pinned to the very
    first channel forever; a user whose purchase precedes any touch
    credits 'direct'; a NULL purchase value emits a NULL cents (not
    NaN), so the sink aggregate skips it like SQL."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import attribution_stream

    src = tmp_path / "attrib_src"
    src.mkdir()
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:05"]
            ),
            "event_id": [10, 11, 12],
            "event_type": ["click", "view", "purchase"],
            "value": [None, None, 7.004],
        }
    )
    b1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    b2 = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": pd.to_datetime(
                ["2024-01-02 00:00", "2024-01-02 00:01", "2024-01-02 00:02"]
            ),
            "event_id": [20, 21, 22],
            # purchase BEFORE any batch-2 touch: credits batch-1 state
            "event_type": ["purchase", "signup", "purchase"],
            "value": [1.0, None, None],
        }
    )
    b2.to_parquet(src / "b2.parquet", coerce_timestamps="us")
    now = time.time()
    os.utime(src / "b1.parquet", (now - 60, now - 60))
    os.utime(src / "b2.parquet", (now, now))

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string, "
            "value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        attribution_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_out")
        .option("checkpointLocation", str(tmp_path / "attrib_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = {r["event_id"]: r for r in spark.table("attrib_out").collect()}
    assert set(rows) == {12, 20, 22}  # one credit per purchase, exactly once
    # user 2 purchased with no prior touch → direct, cents rounds half-up
    assert rows[12]["last_ch"] == "direct" and rows[12]["first_ch"] == "direct"
    assert rows[12]["cents"] == 700
    # batch-2 purchase before any batch-2 touch → credited from batch-1
    # state: last touch 'view' (00:10), first touch 'click' (00:00)
    assert rows[20]["last_ch"] == "view" and rows[20]["first_ch"] == "click"
    # after the batch-2 'signup', last follows it; first stays pinned
    assert rows[22]["last_ch"] == "signup" and rows[22]["first_ch"] == "click"
    assert rows[20]["cents"] == 100
    # NULL purchase values surface as NULL cents (Arrow null, not NaN)
    assert rows[22]["cents"] is None

def test_drop_duplicates_within_watermark_evicts_and_resurrects(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate arriving within the
    delay of the first occurrence is dropped (within AND across
    micro-batches); once the watermark passes the key's event time +
    delay its state evicts, and a LATER re-occurrence re-emits as new.
    This pins the exact schedule-dependence the registered
    stream_dedup_within_watermark query neutralizes by choosing its
    delay ≥ the fixture span — here the resurrection is forced on
    purpose with a 1-hour delay and a 10-hour gap."""
    import os
    import time

    import pandas as pd

    src = tmp_path / "ddww_src"
    src.mkdir()
    batches = [
        # b1: k first at 00:00, in-batch duplicate at 00:10 -> dropped
        (["k", "k"], ["2024-01-01 00:00:00", "2024-01-01 00:10:00"]),
        # b2: cross-batch duplicate still within the delay -> dropped;
        # watermark after this batch: 00:20 - 1h (still < k's expiry)
        (["k"], ["2024-01-01 00:20:00"]),
        # b3: far-future key advances the watermark to 09:00, past k's
        # expiry (00:20 + 1h)
        (["z"], ["2024-01-01 10:00:00"]),
        # b4: spacer — eviction fires lazily, in the first batch that
        # RUNS with the advanced watermark; k must not arrive in the
        # same batch its state dies in, or the old state still wins
        (["y"], ["2024-01-01 10:05:00"]),
        # b5: k returns after eviction -> re-emitted as a fresh row
        (["k"], ["2024-01-01 10:30:00"]),
    ]
    now = time.time()
    for i, (keys, tss) in enumerate(batches):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame({"key": keys, "ts": pd.to_datetime(tss)}).to_parquet(
            f, coerce_timestamps="us"
        )
        os.utime(f, (now - 80 + 20 * i, now - 80 + 20 * i))

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["key"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("ddww_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.table("ddww_out").collect()
    k_ts = sorted(str(r["ts"]) for r in rows if r["key"] == "k")
    # exactly two emissions of k: the original first, and the
    # post-eviction resurrection — the 00:10 and 00:20 duplicates died
    assert k_ts == ["2024-01-01 00:00:00", "2024-01-01 10:30:00"], rows
    assert sum(1 for r in rows if r["key"] == "z") == 1


def test_stateful_dedup_bucketed_carry_and_eager_sweep(spark, tmp_path):
    """Dedup through bucketed_fold: keys sharing a state bucket must
    stay fully independent, carry first_ts/n_dropped across
    micro-batches, and honor the EAGER horizon sweep — a key whose
    (max_ts + horizon) the watermark passed is removed at the bucket's
    next invocation even when the key itself arrives with data in that
    same batch, so the re-arrival is a fresh first (stricter than
    Spark's lazy per-key timeout, which never fires for a key that has
    data)."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import dedup_fold_stream

    a, b = _co_resident(spark, [f"k{i}" for i in range(200)])
    src = tmp_path / "bucketed_src"
    src.mkdir()
    batches = [
        # b1: a (in-batch dup) and b share one bucket; c is anywhere
        ([a, a, b, "c"],
         ["2024-01-01 00:00:00", "2024-01-01 00:10:00",
          "2024-01-01 00:05:00", "2024-01-01 00:06:00"]),
        # b2: watermark spacer 10 days out (horizon 2 days, watermark
        # 1 second; the watermark visible to a batch is the PREVIOUS
        # batch's max − delay, so this advances it for b3)
        (["z"], ["2024-01-11 00:00:00"]),
        # b3: a re-arrives WITH data in the very batch whose sweep
        # removes it (deadline Jan-3 < watermark Jan-10) — the EAGER
        # case: a fresh first. b is swept idle by the same invocation.
        ([a], ["2024-01-12 00:00:00"]),
        # b4: b returns after its sweep — fresh first too
        ([b], ["2024-01-12 06:00:00"]),
    ]
    now = time.time()
    for i, (keys, tss) in enumerate(batches):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame({"key": keys, "ts": pd.to_datetime(tss)}).to_parquet(
            f, coerce_timestamps="us"
        )
        os.utime(f, (now - 80 + 20 * i, now - 80 + 20 * i))

    stream = (
        spark.readStream.schema("key string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "1 second")
    )
    out = dedup_fold_stream(stream, horizon="2 days")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("dedup_bucketed_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_bucketed"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = spark.table("dedup_bucketed_out").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], set()).add(
            (r["first_ts"], r["n_dropped"])
        )
    # a: in-batch dup in b1, then the EAGER-sweep fresh first in b3 —
    # swept and re-seeded in ONE bucket invocation
    assert by_key[a] == {
        (pd.Timestamp("2024-01-01 00:00:00"), 1),
        (pd.Timestamp("2024-01-12 00:00:00"), 0),
    }, by_key[a]
    # b: swept idle during b3's invocation of the shared bucket (a's
    # batch — keys in a bucket are independent but share sweeps) →
    # fresh first in b4
    assert by_key[b] == {
        (pd.Timestamp("2024-01-01 00:05:00"), 0),
        (pd.Timestamp("2024-01-12 06:00:00"), 0),
    }, by_key[b]
    assert by_key["c"] == {(pd.Timestamp("2024-01-01 00:06:00"), 0)}
    assert by_key["z"] == {(pd.Timestamp("2024-01-11 00:00:00"), 0)}


def test_session_window_merges_across_micro_batches(spark, tmp_path):
    """stream_session_native's load-bearing claim (round 12): streaming
    session_window state MERGES — a batch-2 event landing inside the
    gap of a batch-1 session must FUSE with it into one longer session
    (same start, extended end), not open a second one; and the merge
    is per-key (an interleaved other-user event changes nothing)."""
    import os
    import time

    import pandas as pd

    from projektdataengineering_spark.streaming import (
        session_windows,
        stream_state_partitions,
    )

    src = tmp_path / "sess_src"
    src.mkdir()
    batches = [
        # b1: u1 has events at 00:00 and 00:10 (one open session,
        # window [00:00, 00:40)); u2 seeds its own session
        ([1, 1, 2], ["2024-01-01 00:00:00", "2024-01-01 00:10:00",
                     "2024-01-01 00:05:00"]),
        # b2: u1's 00:25 event is within 30 min of 00:10 → MUST merge
        # into the batch-1 session ([00:00, 00:55)); u1's 02:00 event
        # opens a genuinely new session
        ([1, 1], ["2024-01-01 00:25:00", "2024-01-01 02:00:00"]),
    ]
    now = time.time()
    for i, (uids, tss) in enumerate(batches):
        f = src / f"batch{i + 1}.parquet"
        pd.DataFrame(
            {
                "user_id": pd.array(uids, dtype="int64"),
                "ts": pd.to_datetime(tss),
                "value": [1.0] * len(uids),
            }
        ).to_parquet(f, coerce_timestamps="us")
        os.utime(f, (now - 60 + 20 * i, now - 60 + 20 * i))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    with stream_state_partitions(spark):
        q = (
            session_windows(stream, "30 minutes")
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("sess_merge_out")
            .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # complete mode: the table is the final state
    rows = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sess_merge_out").collect()
    }
    assert rows == {
        (1, pd.Timestamp("2024-01-01 00:00:00"),
         pd.Timestamp("2024-01-01 00:55:00"), 3),  # b1 session ⊕ b2 event
        (1, pd.Timestamp("2024-01-01 02:00:00"),
         pd.Timestamp("2024-01-01 02:30:00"), 1),
        (2, pd.Timestamp("2024-01-01 00:05:00"),
         pd.Timestamp("2024-01-01 00:35:00"), 1),
    }, rows


def test_stateful_dedup_bucketed_no_horizon_no_watermark(spark, tmp_path):
    """Round-12 review regression: horizon=None (NoTimeout) on a
    NON-watermarked stream must work — the fold may only read the
    watermark when a horizon is configured (getCurrentWatermarkMs
    raises without withWatermark)."""
    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import dedup_fold_stream

    src = tmp_path / "nohorizon_src"
    src.mkdir()
    pd.DataFrame(
        {
            "key": ["a", "a", "b"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:10:00",
                 "2024-01-01 00:05:00"]
            ),
        }
    ).to_parquet(src / "b1.parquet", coerce_timestamps="us")

    stream = spark.readStream.schema("key string, ts timestamp").parquet(str(src))
    q = (
        dedup_fold_stream(stream)  # no horizon, no watermark
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("dedup_nohorizon_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_nh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r["key"], r["first_ts"], r["n_dropped"])
            for r in spark.table("dedup_nohorizon_out").collect()}
    assert rows == {
        ("a", pd.Timestamp("2024-01-01 00:00:00"), 1),
        ("b", pd.Timestamp("2024-01-01 00:05:00"), 0),
    }, rows


class _FakeGroupState:
    """Just enough of GroupState to drive bucketed_fold's state function
    outside Spark."""

    def __init__(self, wm_ms):
        self.exists, self.hasTimedOut, self.get = False, False, None
        self.wm_ms, self.deadline_ms = wm_ms, None

    def update(self, value):
        self.exists, self.get = True, value

    def remove(self):
        self.exists, self.get = False, None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        self.deadline_ms = ms


def test_bucketed_fold_pins_event_time_unit():
    """The same rows as datetime64[ns] and as datetime64[us] (the unit
    newer pandas/Arrow deliver) must leave identical state and arm an
    identical timeout: event time is converted to µs by unit, never by
    assuming nanoseconds."""
    import pandas as pd

    from projektdataengineering_spark.streaming.stateful import (
        _first_wins,
        _fold_state_fn,
    )

    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:10:00", "2024-01-02 00:00:00"])
    wm_ms = int(pd.Timestamp("2023-12-31").value // 1_000_000)
    horizon_us = int(pd.Timedelta("2 days").value // 1_000)
    results = []
    for unit in ("ns", "us"):
        pdf = pd.DataFrame(
            {"key": ["a", "a", "b"], "ts": ts.astype(f"datetime64[{unit}]"), "_bucket": 0}
        )
        state = _FakeGroupState(wm_ms)
        fn = _fold_state_fn("key", _first_wins, ["first_us", "n_dropped"], (), horizon_us, False)
        (out,) = list(fn((0,), iter([pdf]), state))
        results.append((state.get, state.deadline_ms, out.values.tolist()))
    assert results[0] == results[1], results
    jan1_us = int(pd.Timestamp("2024-01-01").value // 1_000)
    keys, first_us, n_dropped, max_us = results[0][0]
    assert (keys, first_us, n_dropped) == (["a", "b"], [jan1_us, jan1_us + 86_400_000_000], [1, 0])
    # the bucket's timeout is the earliest key deadline: a's last
    # occurrence (00:10) + 2 days
    assert results[0][1] == (jan1_us + 600_000_000 + horizon_us) // 1_000


def test_event_schema_memo_is_per_session(spark, sf_dir):
    """open_event_stream's schema memo lives on the session, like
    catalog.load_table's scan memo: a new session never sees another
    session's entries."""
    from projektdataengineering_spark.streaming import _event_schema_for

    path = f"{sf_dir}/events.parquet"
    schema = _event_schema_for(spark, path)
    assert _event_schema_for(spark, path) is schema  # memo hit
    other = spark.newSession()
    assert not getattr(other, "_pde_event_schema_memo", None)
    assert _event_schema_for(other, path) is not schema
