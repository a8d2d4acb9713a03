"""Keyed streaming state via applyInPandasWithState — the engine's
pattern for semantics Structured Streaming's built-in windows can't
express.

Every keyed fold here runs through ONE primitive, :func:`bucketed_fold`.
Its state granularity is a hash BUCKET of keys, not one key:
applyInPandasWithState pays one Python/Arrow round-trip per GROUP per
micro-batch, and per-key groups made that overhead — not the fold
arithmetic — the whole cost (sf1: per-user attribution 18.7 s vs ~5 s
bucketed; sf0.1 CDC: 1500 key groups, state allUpdatesTimeMs 12.6 s of
a 10.1 s drain). A bucket's state holds its keys' fields as parallel
arrays; keys stay fully independent inside it. Each family supplies
only ``fold(batch, st)``:

* dedup (:func:`dedup_fold_stream`) — first-wins, the streaming form
  of the batch ``dedup_incremental`` anti-join (operators/incremental.py
  O4): the "existing keys" side lives in keyed state instead of being
  re-joined against an ever-growing warehouse;
* CDC apply (:func:`cdc_fold_stream`) — a tombstone state machine;
* EWMA (:func:`ewma_fold_stream`) — a per-key recurrence;
* attribution (:func:`attribution_stream`) — first/last touch credit.

The Misra-Gries fold (:func:`heavy_hitters_stream`) stays separate: its
state is a per-bucket sketch, not per-key entries.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# The one keyed-state bucket count. Fixed: at fixture scale 64 groups
# amortize the per-group round-trip without starving 4-core executors.
STATE_BUCKETS = 64


def state_bucket(key: Column) -> Column:
    """The state bucket of ``key`` — the expression bucketed_fold
    groups by, exposed so callers (and tests) can reason about which
    keys share a bucket."""
    return F.pmod(F.xxhash64(key), F.lit(STATE_BUCKETS)).cast("int")


def _fold_state_fn(key_col, fold, fields, order_by, horizon_us, append):
    """The applyInPandasWithState function behind bucketed_fold (split
    out so it can be driven with a stand-in GroupState).

    Per invocation: decode the bucket's parallel arrays into
    ``st = {key: [field, ...]}``; under a horizon, sweep every key whose
    max-ever event time + horizon is behind the watermark; concatenate
    the bucket's rows, convert ``ts`` to µs once, sort by ``order_by``
    and hand them to ``fold``; then re-encode (or
    remove the emptied state) and arm the bucket's timeout at its
    earliest key deadline."""

    n_fields = len(fields)

    def fn(_bucket, pdf_iter, state: GroupState):
        if state.exists:
            ks, *cols = state.get
            st = {k: list(v) for k, v in zip(ks, zip(*cols[:n_fields]))}
            max_us = dict(zip(ks, cols[n_fields])) if horizon_us is not None else {}
        else:
            st, max_us = {}, {}
        if horizon_us is not None:
            # EAGER sweep, before the new rows fold: a re-arrival after
            # its deadline is always a fresh key, deterministic under
            # replay (Spark's own per-key timeout fires lazily, only in
            # a batch where the key has no data). The watermark is read
            # only under a horizon: NoTimeout streams may have none.
            wm_ms = state.getCurrentWatermarkMs()
            if wm_ms > 0:
                for k in [k for k, m in max_us.items() if m + horizon_us < wm_ms * 1_000]:
                    del st[k], max_us[k]

        out = None
        frames = [pdf for pdf in pdf_iter if len(pdf)]
        if frames:
            batch = pd.concat(frames, ignore_index=True)
            del batch["_bucket"]
            if "ts" in batch:
                # event time as int64 epoch µs by CONVERSION, whatever
                # datetime64 unit Arrow delivers ([ns] today, [us] under
                # newer pandas defaults) — never by assuming ns. Naive
                # wall clocks read as UTC: bucketed_fold requires a UTC
                # session, which also makes them comparable with the
                # watermark.
                batch["ts"] = batch["ts"].to_numpy("datetime64[us]").view("int64")
            if order_by:
                batch = batch.sort_values(list(order_by), kind="stable", ignore_index=True)
            out = fold(batch, st)
            if horizon_us is not None:
                # idle-anchor on the max event time EVER seen: a late
                # (within-watermark) batch of older rows can never move
                # a key's deadline backward
                for k, m in batch.groupby(key_col, sort=False)["ts"].max().items():
                    if k in st:
                        max_us[k] = max(max_us.get(k, int(m)), int(m))
            if not append:
                # update mode: one row for EVERY key of the micro-batch
                # that has state after the fold — including keys the
                # fold left unchanged (e.g. NULL-only rows)
                rows = [[k, *st[k]] for k in pd.unique(batch[key_col]) if k in st]
                out = pd.DataFrame(rows, columns=[key_col, *fields]) if rows else None

        if not st:
            state.remove()
        else:
            ks = sorted(st)
            cols = [[st[k][i] for k in ks] for i in range(n_fields)]
            if horizon_us is not None:
                cols.append([max_us[k] for k in ks])
            # state arrays must hold Python scalars, not numpy ones
            state.update(tuple(np.asarray(c).tolist() for c in (ks, *cols)))
            if horizon_us is not None:
                # Spark requires a timeout strictly beyond the watermark
                deadline_ms = (min(max_us.values()) + horizon_us) // 1_000
                state.setTimeoutTimestamp(max(deadline_ms, wm_ms + 1))
        return iter(() if out is None or out.empty else (out,))

    return fn


def bucketed_fold(
    keyed: DataFrame,
    key_col: str,
    fold,
    state_fields: str,
    *,
    order_by: tuple = (),
    horizon: str | None = None,
    append_schema: str | None = None,
) -> DataFrame:
    """Run ``fold`` as bucketed keyed state over the streaming frame
    ``keyed``.

    ``fold(batch, st)`` gets one bucket's micro-batch rows — several
    keys, sorted by ``order_by`` (a groupby on ``key_col`` keeps that
    order per key), ``ts`` as int64 µs when present — and ``st``, a
    dict from key to the list of its ``state_fields`` values (DDL,
    e.g. ``"n long, s double"``). It updates ``st`` in place, adding
    the keys it starts tracking.

    Emission: by default (update mode) the primitive emits one
    ``(key_col, *state_fields)`` row for every key of the micro-batch
    that has state after the fold; ``fold`` returns None. With
    ``append_schema`` (append mode) the fold instead returns the rows
    to emit — a pandas frame in that schema, or None.

    ``horizon`` (pandas-Timedelta syntax, e.g. ``"30 days"``) bounds
    state: a key whose max-ever ``ts`` + horizon falls behind the
    watermark is swept and its next occurrence starts fresh, so state
    is ∝ keys active within one horizon. The input must then carry
    ``withWatermark`` on ``ts``. Without it state never expires."""
    if "ts" in keyed.columns:
        from ..catalog import _require_utc_session

        _require_utc_session(keyed.sparkSession, "bucketed_fold event time")
    fields = [f.split() for f in state_fields.split(",")]
    key_type = keyed.schema[key_col].dataType.simpleString()
    state_schema = ", ".join(
        [f"{key_col} array<{key_type}>"]
        + [f"{n} array<{t}>" for n, t in fields]
        + (["max_us array<long>"] if horizon else [])
    )
    horizon_us = pd.Timedelta(horizon).value // 1_000 if horizon else None
    fn = _fold_state_fn(
        key_col, fold, [n for n, _ in fields], tuple(order_by), horizon_us,
        append_schema is not None,
    )
    bucketed = keyed.withColumn("_bucket", state_bucket(F.col(key_col)))
    return bucketed.groupBy("_bucket").applyInPandasWithState(
        fn,
        outputStructType=append_schema or f"{key_col} {key_type}, {state_fields}",
        stateStructType=state_schema,
        outputMode="update" if append_schema is None else "append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout if horizon else GroupStateTimeout.NoTimeout
        ),
    )


# ---------------------------------------------------------------------------
# The families built on bucketed_fold
# ---------------------------------------------------------------------------


def _first_wins(batch: pd.DataFrame, st: dict) -> None:
    agg = batch.groupby("key", sort=False)["ts"].agg(["min", "count"])
    for k, first, n in zip(agg.index, agg["min"].tolist(), agg["count"].tolist()):
        ent = st.get(k)
        if ent is None:
            st[k] = [first, n - 1]
        else:
            ent[1] += n


def dedup_fold_stream(keyed: DataFrame, horizon: str | None = None) -> DataFrame:
    """Cross-batch first-wins dedup over (key string, ts timestamp, ...):
    emits each touched key's (first_ts, n_dropped) — the first-seen
    event time and how many later duplicates were suppressed.

    Dedup-horizon contract: a duplicate is suppressed only while its
    key stays warm — arrives within ``horizon`` of the key's LAST
    occurrence (idle-anchored, so an active key never expires
    mid-activity). A re-arrival after the horizon is a fresh first —
    exact-once only within the horizon. No horizon: state never
    expires (bounded replay only)."""
    return bucketed_fold(
        keyed, "key", _first_wins, "first_us long, n_dropped long", horizon=horizon
    ).select("key", F.timestamp_micros("first_us").alias("first_ts"), "n_dropped")


def _cdc_apply(batch: pd.DataFrame, st: dict) -> None:
    ets = batch["event_type"].to_numpy()
    is_del_all = ets == "error"
    for k, idx in batch.groupby("key", sort=False).indices.items():
        is_del = is_del_all[idx]
        b_dels = int(is_del.sum())
        # [n_tombstones, alive, last_event_type, gen_events, n_seen]
        ent = st.setdefault(k, [0, True, "", 0, 0])
        if b_dels:
            # live rows after the batch's last tombstone open the new
            # generation; everything before belongs to closed ones
            last_del = int(is_del.nonzero()[0][-1])
            ent[3] = int((~is_del[last_del + 1 :]).sum())
        else:
            ent[3] += len(idx)
        ent[0] += b_dels
        ent[1] = not bool(is_del[-1])
        ent[2] = str(ets[idx[-1]])
        ent[4] += len(idx)


def cdc_fold_stream(keyed: DataFrame, horizon: str | None = None) -> DataFrame:
    """CDC changelog apply over (key string, ts timestamp, event_id
    long, event_type string) — the streaming form of
    queries/pipeline_ops.pipeline_cdc_apply: 'error' rows are DELETE
    tombstones that close the key's current generation; every other
    row upserts into it. State is O(1) scalars per key.

    Ordering contract: within a micro-batch rows fold in (ts, event_id)
    order; across batches the fold is a state machine, so batches must
    arrive in event order — the availableNow replay/backfill situation
    where CDC apply must be deterministic. A key idle past ``horizon``
    is swept and a later re-arrival restarts its history. The sink's
    last update per key (n_seen is monotone) is the final state."""
    return bucketed_fold(
        keyed,
        "key",
        _cdc_apply,
        "n_tombstones long, alive boolean, last_event_type string, "
        "gen_events long, n_seen long",
        order_by=("ts", "event_id"),
        horizon=horizon,
    )


def ewma_fold_stream(keyed: DataFrame, alpha: float = 0.25) -> DataFrame:
    """Cross-batch EWMA over (user_id long, ts timestamp, event_id long,
    value double): state carries (rows seen, smoothed value) per user;
    each micro-batch folds its rows in (ts, event_id) order with the
    batch operator's scalar IEEE recurrence (queries/timeseries.py
    pipeline_ewma_smooth), so an in-order replay equals the batch fold
    exactly. NULL values never enter the recurrence (they would poison
    every later step), but a user with state still gets its row.

    Ordering bound: within a batch the sort pins the order; across
    batches it is arrival order — correct for append-in-time-order
    landing zones, and exact under availableNow replay."""

    def fold(batch: pd.DataFrame, st: dict) -> None:
        vals = batch["value"].to_numpy(dtype="float64", na_value=np.nan)
        for u, idx in batch.groupby("user_id", sort=False).indices.items():
            xs = vals[idx]
            xs = xs[~np.isnan(xs)]
            if not len(xs):
                continue
            n, s = st.get(u, (0, None))
            for x in xs:
                s = x if s is None else alpha * x + (1.0 - alpha) * s
            st[u] = [n + len(xs), float(s)]

    return bucketed_fold(
        keyed,
        "user_id",
        fold,
        "n_events long, last_ewma double",
        order_by=("ts", "event_id"),
    )


ATTRIB_OUTPUT_SCHEMA = (
    "user_id long, event_id long, last_ch string, first_ch string, "
    "cents long"
)


def _attribute(batch: pd.DataFrame, st: dict) -> pd.DataFrame | None:
    """Rows arrive sorted (ts, event_id); the last touch as of
    each row is the grouped ffill of the non-purchase channel shifted
    one row within the user (exactly the batch twin's
    rowsBetween(unboundedPreceding, -1) frame), the first touch the
    same over a keep-only-first-valid mask. Rows without a batch-local
    touch fall back to the user's carried [first, last] state, and
    absent state credits 'direct'. Cents floor(value·100 + 0.5) matches
    the oracle; a NULL value emits NULL cents, so the sink's SUM skips
    it exactly as SQL does."""
    users = batch["user_id"]
    et = batch["event_type"]
    touch = et.where(et != "purchase", other=None)
    g = touch.groupby(users, sort=False)
    last_asof = g.ffill().groupby(users, sort=False).shift(1)
    first_only = touch.where(
        g.cumcount() - touch.isna().groupby(users, sort=False).cumsum() == 0
    )
    first_asof = (
        first_only.groupby(users, sort=False).ffill().groupby(users, sort=False).shift(1)
    )
    # last touch: the batch-local carry wins (more recent); first
    # touch: pinned forever once set — the CARRIED state wins
    last_asof = last_asof.fillna(users.map({u: v[1] for u, v in st.items()}).astype(object))
    first_asof = users.map({u: v[0] for u, v in st.items()}).astype(object).fillna(first_asof)

    out = None
    is_p = (et == "purchase").to_numpy()
    if is_p.any():
        out = pd.DataFrame(
            {
                "user_id": users.to_numpy()[is_p],
                "event_id": batch["event_id"].to_numpy()[is_p],
                "last_ch": [
                    c if isinstance(c, str) else "direct"
                    for c in last_asof.to_numpy()[is_p]
                ],
                "first_ch": [
                    c if isinstance(c, str) else "direct"
                    for c in first_asof.to_numpy()[is_p]
                ],
                "cents": pd.Series(
                    [
                        None if pd.isna(x) else int(math.floor(x * 100 + 0.5))
                        for x in batch["value"].to_numpy()[is_p]
                    ],
                    dtype=object,
                ),
            }
        )
    # fold the batch's touches into the carried state
    nn = touch.dropna()
    if len(nn):
        by = nn.groupby(users[nn.index], sort=False)
        firsts, lasts = by.first(), by.last()
        for u, first, last in zip(firsts.index, firsts, lasts):
            st.setdefault(u, [first, last])[1] = last
    return out


def attribution_stream(keyed: DataFrame) -> DataFrame:
    """Streaming first/last-touch conversion attribution over (user_id
    long, ts timestamp, event_id long, event_type string, value double):
    the per-user state is the (first, last) non-purchase channel seen so
    far — O(1) forever — and every purchase emits its credit the moment
    it arrives (append mode), never re-reading history.

    Ordering bound: the ewma_fold_stream contract — exact under
    availableNow on the bounded fixture (one in-order batch)."""
    return bucketed_fold(
        keyed,
        "user_id",
        _attribute,
        "first_ch string, last_ch string",
        order_by=("ts", "event_id"),
        append_schema=ATTRIB_OUTPUT_SCHEMA,
    )


# ---------------------------------------------------------------------------
# Streaming Misra-Gries heavy hitters: SKETCHES AS KEYED STATE. The
# term space is hash-partitioned into buckets; each bucket's state is
# one MG(k) counter summary folded continuously across micro-batches —
# fixed-width state per bucket forever, the streaming form of
# operators/sketches.misra_gries_summary. Because a term lives in
# exactly ONE bucket, the merged guarantees are the per-bucket ones
# (est ≤ exact; exact − est ≤ n_bucket/(k+1) ≤ n/(k+1); any term with
# exact > n/(k+1) is present) — theorems independent of batch boundaries
# and arrival order, which is what the certification query hashes.
# ---------------------------------------------------------------------------

MG_OUTPUT_SCHEMA = "bucket int, batch_no long, term string, est long"
MG_STATE_SCHEMA = "batch_no long, terms array<string>, counts array<long>"


def make_mg_fold(k: int):
    """Factory for the per-bucket MG fold: exact batch reduce
    (value_counts), add into the bucket's counters, PODS'12 reduce to k
    by subtracting the (k+1)-th largest and dropping non-positives.
    Emits the bucket's FULL current summary each batch tagged with a
    per-bucket batch_no — the consumer keeps each bucket's max-batch_no
    rows (update-mode memory sinks accumulate every emission)."""

    def _fold(key, pdf_iter, state: GroupState):
        if state.exists:
            bno, terms, counts = state.get
            counters = dict(zip(terms, (int(c) for c in counts)))
        else:
            bno, counters = 0, {}
        for pdf in pdf_iter:
            vc = pdf["term"].value_counts()
            for t, c in vc.items():
                counters[t] = counters.get(t, 0) + int(c)
            if len(counters) > k:
                vals = np.fromiter(counters.values(), dtype=np.int64)
                off = int(np.partition(vals, -(k + 1))[-(k + 1)])
                counters = {
                    t: c - off for t, c in counters.items() if c - off > 0
                }
        bno += 1
        state.update((bno, list(counters.keys()),
                      [int(c) for c in counters.values()]))
        yield pd.DataFrame(
            {
                "bucket": key[0],
                "batch_no": bno,
                "term": list(counters.keys()),
                "est": [int(c) for c in counters.values()],
            }
        )

    return _fold


def heavy_hitters_stream(keyed: DataFrame, k: int = 400) -> DataFrame:
    """Apply the stateful MG summary to a streaming DataFrame with
    columns (bucket int, term string). State per bucket is O(k)
    forever — no timeout needed; an unbounded production stream keeps
    exactly buckets × k counters."""
    return keyed.groupBy("bucket").applyInPandasWithState(
        make_mg_fold(k),
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
