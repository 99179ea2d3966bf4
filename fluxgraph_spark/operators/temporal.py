"""Temporal operators as pure DataFrame transforms (SURVEY.md §2.5, P1-P9).

Replaces the reference's per-element Datalog history queries
(FluxUtil.java:170-217) with single windowed scans: the whole version
chain of every element materializes from ONE pass with lag/lead windows,
instead of O(chain-length) queries per element.

Scale notes (100 TB): the window partitions by element id — an even,
high-cardinality key, so the shuffle is balanced.  Snapshot filters are
plain column predicates that push down to the parquet scan; with tables
partitioned by a time bucket of ``tx_from``, as-of reads prune whole
partitions.
"""

from __future__ import annotations

import datetime
from typing import Optional

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .. import model as M
from ..functions.timeutil import lit_ntz, ts_ntz, ts_us


def snapshot(df: DataFrame, tx: Optional[int]) -> DataFrame:
    """As-of filter (P1 read half).  ``tx=None`` = current version rows.

    Reference: db.asOf(tx) applied in getRawGraph (FluxGraph.java:217-222).
    """
    if tx is None:
        return df.where(F.col(M.TX_TO).isNull())
    return df.where(
        (F.col(M.TX_FROM) <= F.lit(tx))
        & (F.col(M.TX_TO).isNull() | (F.col(M.TX_TO) > F.lit(tx)))
    )


def resolve_checkpoint(tx_log: DataFrame, t: datetime.datetime) -> int:
    """max(tx_id) with tx_time <= t — one aggregate instead of the
    reference's scan-all-transactions Java loop (FluxGraph.java:228-241).
    Robust to backdated (out-of-order) tx_time by construction.

    A Spark job per call: ``DataFrameGraph`` resolves from a driver-side
    ``TxTimeIndex`` built once and calls this only for a tx_log with more
    than ``parquet_io.TX_INDEX_MAX_TIMES`` distinct times; the mutable
    ``TemporalGraph`` keeps its own index current as it allocates txs."""
    row = tx_log.where(F.col(M.TX_TIME) <= F.lit(t)).agg(
        F.max(M.TX_ID).alias("tx")
    ).first()
    return row["tx"] if row["tx"] is not None else 0


def element_chain_window() -> W:
    return W.partitionBy(M.ID).orderBy(M.TX_FROM)


def with_version_index(df: DataFrame) -> DataFrame:
    """Version ordinal per element (P7 set-at-a-time): one windowed scan
    yields every chain (reference iterates FluxTimeIterable per element)."""
    return df.withColumn("version_idx", F.row_number().over(element_chain_window()))


def with_prev_next(df: DataFrame) -> DataFrame:
    """lag/lead tx_from per element (P5/P6 set-at-a-time)."""
    w = element_chain_window()
    return df.withColumn("prev_tx_from", F.lag(M.TX_FROM).over(w)).withColumn(
        "next_tx_from", F.lead(M.TX_FROM).over(w)
    )


def validity_intervals(df: DataFrame, tx_log: DataFrame) -> DataFrame:
    """[tx_time(tx_from), tx_time(tx_to)) per version row; open end maps to
    MAX_TIME (P9; reference FluxElement.java:142-152).

    tx_id -> tx_time is resolved by joining the distinct tx slice of the
    log.  No broadcast hint: the reference's model is one transaction per
    mutation, so the tx slice scales with write volume — AQE broadcasts
    it at runtime while it is small and shuffles when it is not."""
    times = tx_log.select(M.TX_ID, M.TX_TIME).dropDuplicates([M.TX_ID])
    start = times.withColumnRenamed(M.TX_ID, "__from_tx").withColumnRenamed(
        M.TX_TIME, "valid_from"
    )
    end = times.withColumnRenamed(M.TX_ID, "__to_tx").withColumnRenamed(
        M.TX_TIME, "valid_to_raw"
    )
    out = (
        df.join(start, df[M.TX_FROM] == start["__from_tx"], "left")
        .join(end, df[M.TX_TO] == end["__to_tx"], "left")
        .withColumn(
            "valid_to",
            F.coalesce(F.col("valid_to_raw"), F.lit(M.MAX_TIME)),
        )
        .drop("__from_tx", "__to_tx", "valid_to_raw")
    )
    return out


def time_ids(tx_log: DataFrame, checkpoint_tx: Optional[int] = None) -> DataFrame:
    """Element time id = max tx that touched it ≤ checkpoint (P3;
    reference's recursive-rule history query, FluxUtil.java:196-217,
    becomes a groupBy max with map-side partial aggregation)."""
    log = tx_log
    if checkpoint_tx is not None:
        log = log.where(F.col(M.TX_ID) <= F.lit(checkpoint_tx))
    return log.groupBy(M.ELEMENT_ID).agg(F.max(M.TX_ID).alias("time_id"))


def scd2_from_change_events(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Build an SCD2 table from an append-only change-event stream: each
    event for a key opens a new version valid until the key's next event.

    This is the bulk/batch write path for 100 TB ingest — one windowed
    scan, no driver-side loop (contrast with the reference's one Datomic
    transaction per mutation)."""
    w = W.partitionBy(*key_cols).orderBy(ts_col)
    return (
        events.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("version_idx", F.row_number().over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def scd2_compact(
    versions: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Temporal coalescing (SQL:2011 "pack"): merge runs of adjacent
    versions whose tracked values are unchanged into one row spanning
    [first valid_from, last valid_to).  An SCD2 table accumulates
    no-op versions whenever untracked attributes churn (the reference
    bumps a vertex's version on every incident-edge change —
    FluxGraph.java:156-157 — so chains are full of value-identical
    rows); compaction is what makes validity intervals meaningful and
    storage proportional to actual change.

    One windowed scan: a run starts where any value differs from the
    previous version (null-safe <=>), run ids are the running sum of
    starts, then one groupBy merges each run.  Shuffles once on the key,
    reused by both windows and the aggregation."""
    w = W.partitionBy(*key_cols).orderBy(from_col)
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    starts = F.when(
        F.lag(from_col).over(w).isNull() | changed, 1
    ).otherwise(0)
    runs = versions.withColumn(
        "__run", F.sum(starts).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    # a run's end is its last row's valid_to; intervals ascend, so that's
    # max(valid_to) — unless the run contains the open (NULL) version, in
    # which case the merged row stays open.  (Spelled out instead of
    # max_by so NULL handling is engine-portable for the oracle replay.)
    agg = [
        F.min(from_col).alias(from_col),
        F.max(to_col).alias("__max_to"),
        F.max(F.col(to_col).isNull().cast("int")).alias("__open"),
    ]
    # values are identical within a run by construction, so first() is
    # deterministic here despite unordered aggregation
    agg += [F.first(c).alias(c) for c in value_cols]
    out = (
        runs.groupBy(*key_cols, "__run")
        .agg(*agg)
        .withColumn(
            to_col,
            F.when(F.col("__open") == 1, F.lit(None)).otherwise(F.col("__max_to")),
        )
        .drop("__run", "__max_to", "__open")
    )
    return out


def scd2_upsert(
    current: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str = "valid_from",
) -> DataFrame:
    """Batch-merge a change set into an SCD2 table: for each key with
    changes, the open version closes at the first change's timestamp and
    the changes append as new versions (each valid until the key's next
    change).  Keys without changes pass through untouched.

    This is the incremental bulk write path (the set-at-a-time twin of
    the reference's one-transaction-per-mutation C5/C7): one window pass
    over (existing ∪ changes) per affected key, one anti-join for the
    untouched remainder — no driver-side loop, so a 100 TB ingest batch
    is two shuffles regardless of row count.  Version indexes are
    recomputed per key, preserving the scd2_from_change_events
    invariant: the merged table is identical to rebuilding from the
    full concatenated change history (test-pinned).
    """
    # "valid_from" is always excluded even when ts_col differs:
    # scd2_from_change_events emits it as a DERIVED copy of ts_col, so a
    # table keyed on e.g. ts_col="ts" carries both — treating the copy
    # as a value column would demand it from the change batch (latent
    # until the first UPSERT against a non-default-ts table)
    value_cols = [
        c
        for c in current.columns
        if c not in {*key_cols, ts_col, "valid_from", "valid_to",
                     "version_idx", "is_current"}
    ]
    touched_keys = changes.select(*key_cols).distinct()
    untouched = current.join(touched_keys, key_cols, "left_anti")
    affected_history = current.join(touched_keys, key_cols, "left_semi").select(
        *key_cols, F.col(ts_col), *value_cols
    )
    merged = affected_history.unionByName(
        changes.select(*key_cols, F.col(ts_col), *value_cols)
    )
    rebuilt = scd2_from_change_events(merged, key_cols, ts_col)
    return untouched.unionByName(rebuilt.select(*untouched.columns))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
    tolerance: "datetime.timedelta | None" = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` on the same key (``direction="backward"``,
    the default), the earliest right row with ``right_ts >= left_ts``
    (``direction="forward"``), or whichever of the two is closer in
    absolute time (``direction="nearest"``; distance ties choose the
    earlier match — pandas ``merge_asof`` semantics).  With
    ``tolerance`` set, a match farther away than the bound is discarded —
    the value columns come back NULL, exactly as if no right row
    existed (pandas ``merge_asof(tolerance=...)`` semantics).

    Spark lacks a native as-of join; the scalable pattern is a tagged
    UNION + one window pass (NOT a theta-join, which explodes): right
    rows are interleaved into the left's timeline, then
    ``last(value, ignorenulls=True)`` carries the most recent right
    value forward (or, mirrored, the next one backward).  One shuffle on
    (key, ts) total, regardless of how many right rows surround each
    left row.

    Determinism: all value columns come from ONE chosen right row (they
    are carried as a single struct, so a NULL in one value column never
    mixes rows), and right rows tied on the timestamp resolve
    deterministically — backward matches take the greatest value tuple
    among the tied rows, forward matches the least (lexicographic over
    ``value_cols``)."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn("__is_left", F.lit(1))
    for c in value_cols:
        lt = lt.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))
    lt = lt.withColumn("__rts", F.lit(None).cast("timestamp_ntz"))
    rt = right.select(
        *key_cols,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        ts_ntz(right_ts).alias("__rts"),
        *[F.col(c) for c in value_cols],
    )
    for c in lt.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(lt.dtypes)[c]))
    # one struct per right row: value columns always picked together
    val_struct = F.when(
        F.col("__is_left") == 0, F.struct(*[F.col(c) for c in value_cols])
    )
    unioned = lt.unionByName(rt).withColumn("__val", val_struct)
    # right rows sort before left rows at the same timestamp => '<=';
    # ties on (__ts) among right rows order by __val so last() = max tuple
    wb = (
        W.partitionBy(*key_cols)
        .orderBy(F.col("__ts"), F.col("__is_left"), F.col("__val"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pick_b = lambda c: F.last(F.col(c), ignorenulls=True).over(wb)
    # mirrored: right rows sort after left rows at the same timestamp
    # would break '>='; ordering right-first descending on __is_left
    # keeps ties inclusive; first() = min tuple among ts-ties
    wf = (
        W.partitionBy(*key_cols)
        .orderBy(F.col("__ts"), (-F.col("__is_left")), F.col("__val"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    pick_f = lambda c: F.first(F.col(c), ignorenulls=True).over(wf)
    if direction == "backward":
        unioned = unioned.withColumn("__pick", pick_b("__val"))
        unioned = unioned.withColumn("__mts", pick_b("__rts"))
        gap_us = ts_us("__ts") - ts_us("__mts")
    elif direction == "forward":
        unioned = unioned.withColumn("__pick", pick_f("__val"))
        unioned = unioned.withColumn("__mts", pick_f("__rts"))
        gap_us = ts_us("__mts") - ts_us("__ts")
    else:
        # nearest: both candidates come out of the SAME unioned frame —
        # the two window specs share the (key) partitioning, so this is
        # still ONE shuffle (two sorts).  Distance ties choose the
        # backward (earlier) match.
        unioned = unioned.withColumn("__mts_b", pick_b("__rts")).withColumn(
            "__mts_f", pick_f("__rts")
        )
        gap_b = ts_us("__ts") - ts_us("__mts_b")
        gap_f = ts_us("__mts_f") - ts_us("__ts")
        use_b = F.col("__mts_b").isNotNull() & (
            F.col("__mts_f").isNull() | (gap_b <= gap_f)
        )
        unioned = unioned.withColumn(
            "__pick", F.when(use_b, pick_b("__val")).otherwise(pick_f("__val"))
        )
        unioned = unioned.withColumn(
            "__mts", F.when(use_b, F.col("__mts_b")).otherwise(F.col("__mts_f"))
        ).drop("__mts_b", "__mts_f")
        gap_us = F.abs(ts_us("__ts") - ts_us("__mts"))
    keep = F.col("__mts").isNotNull()
    if tolerance is not None:
        keep = keep & (gap_us <= int(tolerance.total_seconds() * 1_000_000))
    for c in value_cols:
        unioned = unioned.withColumn(
            c, F.when(keep, F.col("__pick")[c]).otherwise(F.lit(None))
        )
    return unioned.where(F.col("__is_left") == 1).drop(
        "__ts", "__is_left", "__rts", "__mts", "__val", "__pick"
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key_cols: list[str],
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket: datetime.timedelta = datetime.timedelta(hours=6),
) -> DataFrame:
    """Band join: each point row matched to every interval row with the
    same key and ``start_ts <= point_ts < end_ts``.

    Spark plans a raw equi+range join as a shuffle join whose range half
    runs as a post-join filter — fine — but a PURE range join (or a hot
    band join) degenerates to BroadcastNestedLoopJoin.  The scale shape
    used here is time-bucketing: intervals explode into the fixed-width
    buckets they span (``sequence``), points map into exactly one
    bucket, and the join becomes a plain equi-join on (key, bucket) plus
    a residual range filter.  Work scales with interval-span/bucket, not
    points x intervals.  Each (point, interval) pair meets in exactly
    one bucket (the point's), so no post-join dedup is needed.

    Returns points columns + intervals' non-key columns.
    """
    b_us = int(bucket.total_seconds() * 1_000_000)
    p = points.withColumn(
        "__bucket", F.floor(ts_us(point_ts) / F.lit(b_us))
    )
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(ts_us(start_ts) / F.lit(b_us)),
                # end is exclusive: the last bucket is the one holding end-1us
                F.floor((ts_us(end_ts) - 1) / F.lit(b_us)),
            )
        ),
    )
    joined = p.join(iv, [*key_cols, "__bucket"]).where(
        (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) < F.col(end_ts))
    )
    return joined.drop("__bucket")


def asof_latest(
    versions: DataFrame,
    key_cols: list[str],
    ts_col: str,
    at: datetime.datetime,
) -> DataFrame:
    """Latest version per key with ts <= at — as-of over an event-versioned
    table via max_by (single shuffle on the key, partial agg map-side)."""
    filtered = versions.where(ts_ntz(ts_col) <= lit_ntz(at))
    value_cols = [c for c in versions.columns if c not in key_cols]
    aggs = [F.max_by(c, F.col(ts_col)).alias(c) for c in value_cols]
    return filtered.groupBy(*key_cols).agg(*aggs)


def funnel_stages(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """Strict sequential funnel: per user, the earliest time each stage
    completed AT OR AFTER the previous stage's completion (a view
    before signup does not count toward a view→click→purchase funnel).
    Output: one row per user who completed stage 0, columns
    ``t0..t{n-1}`` (null once the chain breaks) and ``stage_reached``.

    Scale shape: one filtered min-agg per stage joined back on the user
    key — len(stages) small joins, each keyed by user id with the
    stage-filtered side pre-aggregated, never a window over the full
    event stream.  Catalyst pushes the stage filters to the scan."""
    out = (
        events.where(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t0"))
    )
    for i, st in enumerate(stages[1:], 1):
        nxt = (
            events.where(F.col(type_col) == st)
            .select(user_col, F.col(ts_col).alias("__ts"))
            .join(out.select(user_col, f"t{i - 1}"), user_col)
            .where(F.col("__ts") >= F.col(f"t{i - 1}"))
            .groupBy(user_col)
            .agg(F.min("__ts").alias(f"t{i}"))
        )
        out = out.join(nxt, user_col, "left")
    reached = sum(
        F.when(F.col(f"t{i}").isNotNull(), 1).otherwise(0)
        for i in range(len(stages))
    )
    return out.withColumn("stage_reached", reached.cast("int"))
