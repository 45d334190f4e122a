"""Structured Streaming surface (SURVEY.md §2.10).

The reference is a batch month-end job; its streaming extension points
are exactly the shapes below:

- tumbling/sliding windowed aggregation with watermark-driven late-data
  handling (the reference's analog: unparseable dates silently fall out
  of the month filter — here, late rows beyond the watermark drop out
  of their window);
- ``session_window`` with a gap — rule R7's "3-day gap" IS a session
  window when the mark-anchor resets on every event (batch cousin:
  :func:`..operators.marking.sessionize`);
- the exact R7 anchor-reset semantics (anchor = last MARKED event, not
  last event) as a stateful ``applyInPandasWithState`` operator.

All operators take and return (streaming) DataFrames — the same lazy
composition style as the batch engine; sources/sinks stay at the edge.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def tumbling_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide), F.col(key_col))
        .agg(F.count("*").alias("n"))
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stateful streaming deduplication: first arrival per key wins;
    keys older than the watermark are evicted from state, which is what
    keeps state bounded on an unbounded stream (exactly-once event
    feeds at pipeline ingestion). Project to the key columns BEFORE
    ``dropDuplicates`` so the kept row is deterministic — with full
    rows, which duplicate survives depends on arrival order.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .select(*keys, ts_col)
        .dropDuplicates(keys)
        .select(*keys)
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_cols: Iterable[str] = ("user_id",),
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based session aggregation — R7's 3-day-gap shape on a stream:
    ``session_window(ts, '3 days')`` groups exactly the rows the batch
    sessionizer assigns one session id."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), *[F.col(c) for c in key_cols])
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "r_ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event paired with the
    right-stream events of the same key that occur in
    ``[left_ts, left_ts + within]`` — the attribution/funnel shape
    (click → purchase within the hour) joined at stream speed.

    Both sides carry a watermark and the join condition bounds
    ``right_ts`` relative to ``left_ts`` on BOTH ends; that pair of
    constraints is what lets Spark expire buffered state (each side
    holds only ``watermark + within`` of history per key) and emit in
    append mode. Without the time bounds a stream-stream join would
    need unbounded state — the planner rejects it.

    ``how='left_outer'`` additionally emits each UNMATCHED left row —
    null-extended — but only once the global watermark (the MIN of the
    two streams' watermarks, each ``max(event_ts seen) - delay`` over
    its own filtered feed) passes ``left_ts + within``: before that the
    row might still be matched by a late right event, so it sits in
    state. On a bounded source this means left rows newer than
    ``final_watermark - within`` are still buffered at shutdown and
    never emit their null row — semantics a batch mirror must replicate
    with an explicit watermark predicate, not a plain outer join.

    State is hash-partitioned on the join key; at 100 TB feed rates the
    bound on per-key buffered history, not the feed size, dictates
    state-store memory — the same sizing rule as a windowed agg.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key_col] == r[key_col])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= F.expr(f"{left_ts} + INTERVAL {within}"))
    )
    return l.join(r, cond, how).drop(r[key_col])


_GAP_STATE_SCHEMA = T.StructType([T.StructField("anchor_ms", T.LongType())])


def gap_anchor_mark_stream(
    events: DataFrame,
    group_keys: list[str],
    ts_col: str = "ts",
    gap_days: int = 3,
    id_col: str = "event_id",
    watermark: str = "1 day",
    eviction_granularity_days: int = 7,
) -> DataFrame:
    """Streaming R7: per group, emit (id, ts, validacion) where a row is
    marked iff it is the group's first event or > ``gap_days`` after the
    last MARKED event; the anchor persists in GroupState across
    micro-batches.

    State is BOUNDED by an event-time timeout: an anchor at time ``a``
    can only change a future mark decision for events with
    ``ts < a + (gap_days + 1) days`` (anything later is guaranteed
    ``(ts - a) // 1d > gap_days`` → marked, which is exactly the
    no-state outcome). So once the watermark passes
    ``a + gap_days + 1 days`` the state is provably closed and Spark
    evicts it — per-group state lives ``gap_days + 1 + watermark``
    of event time (plus at most ``eviction_granularity_days``, below),
    not forever; an unbounded production stream holds a sliding window
    of active groups instead of every group ever seen. A group that
    re-appears after eviction restarts with a marked first event —
    identical output to the kept-state path.

    EVICTION BATCHING: each timed-out group costs one per-group Python
    round-trip (measured ~0.9 ms/group — the dominant cost of the
    timeout path when evictions dribble out one watermark-tick at a
    time). Timeout timestamps are therefore rounded UP to
    ``eviction_granularity_days`` boundaries (epoch-aligned), so
    expirations arrive in per-window WAVES that amortize the timeout
    scan and micro-batch machinery, instead of a trickle in every
    batch. The trade is explicit and small: a closed group's state
    overstays by at most the granularity (bound becomes
    ``gap + 1 + granularity + watermark`` days of event time);
    output is unaffected (closed state never changes a mark decision).
    Set ``eviction_granularity_days=0`` for exact-horizon eviction.

    Caveat shared with any per-event stateful op: correctness needs
    in-order events per group within a batch (we sort each batch) and
    monotone batches for cross-batch order — acceptable for the audit
    use-case this models; exact out-of-order handling would buffer in
    state behind the watermark. Rows later than ``watermark`` behind
    the stream's max event time are dropped (standard late-data
    policy; the batch cousin's analog is the month filter dropping
    unparseable dates).
    """
    out_schema = T.StructType(
        [T.StructField(k, events.schema[k].dataType) for k in group_keys]
        + [
            T.StructField(id_col, events.schema[id_col].dataType),
            T.StructField(ts_col, events.schema[ts_col].dataType),
            T.StructField("validacion", T.IntegerType()),
        ]
    )

    out_cols = list(group_keys) + [id_col, ts_col, "validacion"]
    day_ms = 86_400_000
    gap = int(gap_days)
    gran_ms = int(eviction_granularity_days) * day_ms

    def fold(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import numpy as np

        if state.hasTimedOut:
            # watermark passed anchor + gap + 1d: no future event can be
            # influenced by this anchor — drop it and emit nothing
            state.remove()
            return

        # same numpy formulation as the batch fold (operators/marking.py)
        # — one datetime conversion per chunk and plain int64 compares in
        # the loop, no per-row pandas Series construction (iterrows).
        # r13: the per-GROUP pandas frame machinery was the dominant
        # per-group cost (measured 3.4 ms/group for a 20-row group:
        # sort_values + column copies + reindex + concat), ~4× the mark
        # loop itself. The hot path now sorts with np.lexsort over the
        # raw arrays and builds the result frame once from those arrays
        # (0.48 ms/group, same rows bit-for-bit); groups with
        # non-numeric ids or NaT timestamps fall back to the original
        # sort_values path (lexsort on int64-viewed NaT would order
        # NaT first where sort_values puts it last).
        anchor = state.get[0] if state.exists else None
        has = anchor is not None
        a = anchor if has else 0
        chunks = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_raw = pd.to_datetime(pdf[ts_col], errors="coerce").values
            ids = pdf[id_col].values
            if ids.dtype.kind in "iufM" and not np.isnat(ts_raw).any():
                # same tiebreak as the batch fold (ts, then id): lexsort
                # keys are listed least-significant first
                order = np.lexsort((ids, ts_raw.view("int64")))
                ts_sorted = ts_raw[order]
                ids_sorted = ids[order]
            else:
                spdf = pdf.sort_values([ts_col, id_col])
                ts_sorted = pd.to_datetime(spdf[ts_col], errors="coerce").values
                ids_sorted = spdf[id_col].values
            ts_ms = ts_sorted.view("int64") // 1_000_000
            flags = np.zeros(len(ts_ms), dtype="int32")
            for i in range(len(ts_ms)):
                t = int(ts_ms[i])
                # floor-days comparison, matching the batch fold's
                # Timedelta.days semantics (3 days + 1 hour → 3 → no mark)
                if not has or (t - a) // day_ms > gap:
                    flags[i] = 1
                    a = t
                    has = True
            data = {k_name: k_val for k_name, k_val in zip(group_keys, key)}
            data[id_col] = ids_sorted
            data[ts_col] = ts_sorted
            data["validacion"] = flags
            chunks.append(pd.DataFrame(data, columns=out_cols))
        state.update((a if has else None,))
        if has:
            # evict once provably closed; must stay ahead of the current
            # watermark or Spark rejects the (already-due) timestamp
            closed_at = a + (gap + 1) * day_ms
            if gran_ms > 0:
                # round UP to the granularity boundary: expirations
                # arrive in waves (see docstring), state overstays by
                # < granularity
                closed_at = ((closed_at + gran_ms - 1) // gran_ms) * gran_ms
            state.setTimeoutTimestamp(
                max(closed_at, state.getCurrentWatermarkMs() + 1)
            )
        if len(chunks) == 1:
            yield chunks[0]
        elif chunks:
            yield pd.concat(chunks, ignore_index=True)

    return events.withWatermark(ts_col, watermark).groupBy(
        *group_keys
    ).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=_GAP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
):
    """Drive a streaming plan to completion over a static file source —
    the local test harness (processAllAvailable → stop)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stream_to_partitioned_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    output_mode: str = "append",
    run_to_completion: bool = True,
):
    """Production-shaped streaming sink: ``foreachBatch`` → partitioned
    parquet, idempotent under micro-batch replay.

    ``foreachBatch`` instead of the plain file sink so each micro-batch
    can (a) write hive-partitioned (the 100 TB layout partition pruning
    needs) and (b) run in COMPLETE/UPDATE modes too — the file sink
    only supports append.

    ``foreachBatch`` is at-least-once: a batch replayed after a crash
    before the checkpoint commit runs ``write_batch`` again. In append
    mode each batch therefore overwrites its OWN ``batch_id=<n>``
    partition directory — the replay rewrites identical data instead of
    appending a duplicate, making the sink effectively exactly-once.
    Readers discover ``batch_id`` as a partition column (read with
    ``spark.read.parquet(path)`` and drop it, or prune on it for
    incremental downstream loads). Complete mode overwrites the whole
    output per batch, which is already idempotent.
    """
    import os

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if output_mode == "complete":
            writer = batch_df.write.mode("overwrite")
            target = path
        else:
            writer = batch_df.write.mode("overwrite")
            target = os.path.join(path, f"batch_id={batch_id}")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)

    q = (
        stream_df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(write_batch)
        .start()
    )
    if run_to_completion:
        q.processAllAvailable()
        q.stop()
    return q


def windowed_distinct_users(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """EXACT distinct users per tumbling window as two CHAINED stateful
    operators: stateful dedup on (window, user) feeding a windowed
    count — the streaming restatement of ``COUNT(DISTINCT)`` that a
    single pass cannot compute incrementally. Spark ≥3.4 allows the
    chain (``statefulOperator.allowMultiple``); both stages share the
    watermark, so dedup state for closed windows AND the window counts
    evict together — state is one (window, user) pair per active
    window, not per event.

    Append-mode semantics: a window emits once the watermark passes its
    end, so the stream's tail windows (end > max event time −
    watermark) are withheld until later data closes them — batch
    mirrors must apply the same cutoff. Use ``approx_count_distinct``
    instead when a single stateful stage and fixed sketch-sized state
    per window matter more than exactness.
    """
    bucketed = (
        events.withWatermark(ts_col, watermark)
        .select(F.window(ts_col, window).alias("w"), F.col(user_col))
    )
    deduped = bucketed.dropDuplicates(["w", user_col])
    return deduped.groupBy("w").agg(F.count("*").alias("n_users"))


def _latest_upsert_version(spark, path: str, below: int | None = None) -> int | None:
    """Largest committed snapshot version under ``path`` (optionally
    strictly below ``below``), or None. Versions are directory names
    ``v=<n>`` holding full parquet snapshots."""
    import os
    import re

    if not os.path.isdir(path):
        return None
    best = None
    for d in os.listdir(path):
        m = re.fullmatch(r"v=(\d+)", d)
        if not m:
            continue
        n = int(m.group(1))
        if below is not None and n >= below:
            continue
        if os.path.exists(os.path.join(path, d, "_SUCCESS")) and (
            best is None or n > best
        ):
            best = n
    return best


def read_upsert_table(spark, path: str) -> DataFrame:
    """Read the latest committed snapshot of a stream-upserted table."""
    import os

    v = _latest_upsert_version(spark, path)
    if v is None:
        raise FileNotFoundError(f"no committed upsert snapshot under {path}")
    return spark.read.parquet(os.path.join(path, f"v={v}"))


def stream_upsert_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    seq_col: str,
    run_to_completion: bool = True,
):
    """Streaming MERGE-by-key sink: each micro-batch upserts into a
    keyed parquet table via versioned full snapshots — the keyed-sink
    shape (dimension maintenance, latest-state tables) that the plain
    append file sink cannot express.

    Protocol (what Delta/Iceberg MERGE gives you, restated on bare
    parquet so the engine stays dependency-free):

    - snapshot ``v=<batch_id>`` = merge_changes(latest snapshot with
      version < batch_id, this batch as an all-'U' feed, last-writer-
      wins on ``seq_col``);
    - a replayed batch (crash between sink write and checkpoint
      commit) rebases on "latest version STRICTLY BELOW batch_id", so
      it deterministically rewrites the same ``v=<n>`` directory
      instead of double-applying — the sink is idempotent, hence
      effectively exactly-once;
    - within a batch, last-writer-wins per key on ``seq_col`` (ties
      broken by the merge's keep-first determinism); across batches,
      later batches win, which is micro-batch order = stream order.

    Scale notes: each snapshot write is a full rewrite — correct but
    O(table) per batch. On a real deployment this sink is where a
    table format (Delta/Iceberg/Hudi) plugs in to make the merge
    partition-selective; the MERGE plan itself (one full-outer join,
    change side broadcast when small) is already the scale shape, and
    old ``v=*`` directories are retention/GC policy. Snapshot
    directories commit via parquet's ``_SUCCESS`` marker: a replay
    that died mid-write left no marker, so readers and rebases skip
    the torn snapshot.
    """
    import os

    from ..operators.relational import merge_changes

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = _latest_upsert_version(spark, path, below=int(batch_id))
        changes = batch_df.withColumn("op", F.lit("U"))
        if prev is None:
            # first snapshot: merge onto an empty base with the value schema
            base = spark.createDataFrame([], batch_df.schema)
        else:
            base = spark.read.parquet(os.path.join(path, f"v={prev}"))
        merged = merge_changes(base, changes, keys=keys, seq_col=seq_col)
        merged.write.mode("overwrite").parquet(
            os.path.join(path, f"v={int(batch_id)}")
        )

    q = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(apply_batch)
        .start()
    )
    if run_to_completion:
        q.processAllAvailable()
        q.stop()
    return q


def stream_maintain_agg_view(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    sum_cols: list[str],
    run_to_completion: bool = True,
):
    """Streaming MATERIALIZED VIEW: a grouped COUNT/SUM aggregate kept
    current by incremental maintenance per micro-batch — the
    composition of the upsert sink's versioned-snapshot protocol with
    :mod:`..operators.ivm`.

    Each batch aggregates ITS OWN rows (delta is batch-sized, map-side
    combinable) and merges the delta into the previous snapshot with
    ``incremental_agg_update`` — the base is never re-aggregated, so
    per-batch cost is O(batch + |state|), independent of stream
    history length.  Versioning and replay idempotency are exactly the
    upsert sink's: ``v=<batch_id>`` rebases on the latest committed
    version strictly below itself, so a crash-replayed batch rewrites
    rather than double-counts.  Readers use :func:`read_upsert_table`.

    Contrast with a built-in streaming aggregation in complete mode:
    that holds every group in the state store and rewrites the whole
    output each batch; this sink keeps state AT REST in parquet
    (arbitrarily large, queryable mid-stream by any engine) and
    carries only the merge join per batch.  The stream side needs no
    watermark because nothing is windowed — it is the "running totals
    per key forever" shape.
    """
    import os

    from ..operators.ivm import aggregate_state, incremental_agg_update

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta_src = batch_df.withColumn("op", F.lit("I"))
        prev = _latest_upsert_version(spark, path, below=int(batch_id))
        if prev is None:
            new_state = aggregate_state(batch_df, keys=keys, sum_cols=sum_cols)
        else:
            base = spark.read.parquet(os.path.join(path, f"v={prev}"))
            new_state = incremental_agg_update(
                base, delta_src, keys=keys, sum_cols=sum_cols
            )
        new_state.write.mode("overwrite").parquet(
            os.path.join(path, f"v={int(batch_id)}")
        )

    q = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(apply_batch)
        .start()
    )
    if run_to_completion:
        q.processAllAvailable()
        q.stop()
    return q


def stream_upsert_to_txlog(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
    seq_col: str,
    run_to_completion: bool = True,
    partition_by: list[str] | None = None,
):
    """Streaming MERGE-by-key into a :class:`~..sources.txlog.
    TxLogTable` — the transactional upgrade of
    :func:`stream_upsert_to_parquet`, using the Delta txn-identifier
    idea for exactly-once:

    - each applied micro-batch merges onto the table head
      (merge_changes, last-writer-wins on ``seq_col``) and commits one
      new version carrying ``{"batch_id": n}``;
    - a REPLAYED batch (crash after the table commit, before the
      stream checkpoint advanced) is detected by scanning the newest
      commits for the last recorded batch id: ``batch_id <= last`` →
      the batch is SKIPPED outright, not re-merged — no duplicate
      version, no double-apply, exactly-once by construction;
    - versions are per-batch snapshots, so the txlog's time travel IS
      the stream's history, its zone maps prune reads of it, and its
      CDC composition (snapshot_diff between versions) gives a change
      feed per micro-batch for free;
    - CONCURRENT BATCH WRITERS are safe (round 7): each micro-batch is
      an optimistic read-modify-write — read the head it validated,
      merge, then :meth:`TxLogTable.overwrite_if` commits only if the
      head is unchanged; a batch ``append``/``compact`` landing between
      the read and the commit forces a re-read + re-merge, so the
      concurrent writer's rows survive into the stream's committed
      version instead of being dropped by a blind remove-set retry.

    The batch-id scan walks commits newest-first and stops at the
    first streaming commit, so steady-state cost is O(1) commits read.
    """
    import os

    from ..operators.relational import merge_changes
    from ..sources.txlog import CommitConflict, TxLogTable

    def last_batch_id(t: TxLogTable) -> int | None:
        for v in reversed(t.versions()):
            meta = t.commit_meta(v)
            if "batch_id" in meta:
                return int(meta["batch_id"])
        return None

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        changes = batch_df.withColumn("op", F.lit("U"))
        while True:
            t = TxLogTable(table_path)
            if not t.versions():
                merged = merge_changes(
                    spark.createDataFrame([], batch_df.schema),
                    changes,
                    keys=keys,
                    seq_col=seq_col,
                )
                try:
                    # partition spec is a create-time property; every
                    # later overwrite_if inherits it from the table
                    TxLogTable.create(
                        table_path,
                        merged,
                        partition_by=partition_by,
                        extra={"batch_id": int(batch_id)},
                    )
                    return
                except (CommitConflict, FileExistsError):
                    continue  # lost the create race: merge onto the head
            last = last_batch_id(t)
            if last is not None and int(batch_id) <= last:
                return  # replay of an already-committed batch: skip
            head = t.latest_version()
            base = t.read(spark, version=head)  # the head we validate
            merged = merge_changes(base, changes, keys=keys, seq_col=seq_col)
            if (
                t.overwrite_if(merged, head, extra={"batch_id": int(batch_id)})
                is not None
            ):
                return

    q = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(apply_batch)
        .start()
    )
    if run_to_completion:
        q.processAllAvailable()
        q.stop()
    return q


def _latest_meta_with(t, meta_keys: list[str]) -> dict | None:
    """Newest commit metadata carrying ALL of ``meta_keys`` — walked
    back from the head, because maintenance commits are not the only
    writers of a consumer/view table: a compact/bin-pack/vacuum lands
    its own commit WITHOUT the watermark keys, and reading strictly
    the head would break the consumer chain after any layout pass.
    Driver-side log metadata only; None when no commit carries them."""
    for v in sorted(t.versions(), reverse=True):
        m = t.commit_meta(v)
        if all(k in m for k in meta_keys):
            return m
    return None


def txlog_cdf_consumer_step(
    spark,
    source_path: str,
    keys: list[str],
    agg_keys: list[str],
    sum_cols: list[str],
    dst_path: str,
    apply: str = "overwrite",
    state_buckets: int | None = None,
) -> int | None:
    """ONE transactional step of the continuous txlog → CDF → IVM
    pipeline (the Delta CDF streaming-source idea): advance the
    aggregate table at ``dst_path`` to the source table's current
    head and return the consumed head (None when already caught up or
    a concurrent consumer won the commit race — the next tick
    re-reads).

    Progress is NOT a side file: the destination table's newest commit
    carries ``{"source_version": v}`` (the Delta txn-identifier idea,
    same as :func:`stream_upsert_to_txlog`'s batch ids), so applying
    the changes and recording the watermark are ONE atomic commit —
    a crash anywhere redelivers from the last COMMITTED version and
    can never double-apply (exactly-once effect without an idempotent
    sink). Bootstrap (no destination yet) aggregates the full source
    snapshot at the head; every later step reads only the normalized
    change feed (U → D(pre)+I(post)) and merges it change-feed-sized
    through :func:`..operators.ivm.incremental_agg_update` — the
    source is never rescanned, the property a 100 TB base table
    requires. ``overwrite_if`` keeps concurrent consumers safe: a lost
    race leaves the destination untouched.

    A VACUUM on the source that outran this consumer fails loudly
    inside ``change_feed`` (including the exact cutoff−1 boundary) —
    re-baseline by deleting the destination table.

    ``apply="merge"`` lands each step via
    ``merge_into(delete_when="n = 0")`` — updates, inserts, and
    zero-count retractions in ONE commit rewriting only the files
    holding affected agg rows (write amplification bounded by the
    churn's key set, not the state size); ``state_buckets=B``
    additionally hive-partitions the state on
    ``pmod(xxhash64(agg_keys), B)`` and prunes both the old-state
    read and the merge discovery to the churn's buckets — the same
    100 TB-state treatment as ``txlog_join_view_step``, with the same
    constraints (NULL-free agg keys, single maintenance writer).
    """
    from ..operators.ivm import (
        aggregate_delta,
        aggregate_state,
        incremental_agg_update,
    )
    from ..sources.txlog import CommitConflict, TxLogTable

    if apply not in ("overwrite", "merge"):
        raise ValueError(f"txlog_cdf_consumer_step: bad apply={apply!r}")
    if state_buckets is not None and apply != "merge":
        raise ValueError(
            "txlog_cdf_consumer_step: state_buckets requires "
            "apply='merge'"
        )

    def kbucket():
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in agg_keys]),
            F.lit(state_buckets),
        ).cast("long")

    src = TxLogTable(source_path)
    head = src.latest_version()
    dst = TxLogTable(dst_path)
    if not dst.versions():
        state = aggregate_state(
            src.read(spark, head), keys=agg_keys, sum_cols=sum_cols
        )
        try:
            if state_buckets is not None:
                TxLogTable.create(
                    dst_path,
                    state.withColumn("__kb", kbucket())
                    .repartition(state_buckets, "__kb"),
                    partition_by=["__kb"],
                    extra={"source_version": head},
                )
            else:
                TxLogTable.create(
                    dst_path, state, extra={"source_version": head}
                )
            return head
        except (CommitConflict, FileExistsError):
            return None  # concurrent bootstrap won; next tick continues
    meta = _latest_meta_with(dst, ["source_version"])
    if meta is None:
        raise ValueError(
            f"destination {dst_path} exists but carries no "
            f"source_version metadata — not a CDF consumer table"
        )
    last = int(meta["source_version"])
    if head <= last:
        return None  # caught up
    changes = src.change_feed(
        spark,
        keys=keys,
        from_version=last + 1,
        to_version=head,
        normalize_updates=True,
    ).drop("_commit_version")
    expected = dst.latest_version()
    extra = {"source_version": head}
    if apply == "merge":
        delta = aggregate_delta(
            changes, keys=agg_keys, sum_cols=sum_cols
        ).persist()
        try:
            delta.count()
            prune = None
            if state_buckets is not None:
                hit_kb = sorted(
                    r["__kb"]
                    for r in delta.select(
                        F.pmod(
                            F.xxhash64(*[F.col(k) for k in agg_keys]),
                            F.lit(state_buckets),
                        ).cast("long").alias("__kb")
                    ).distinct().collect()
                )
                prune = {"__kb": hit_kb}
            state_cols = [
                *agg_keys, "n", *[f"sum_{c}" for c in sum_cols]
            ]
            old = dst.read(spark, expected, prune=prune)
            old_hit = old.join(
                F.broadcast(delta.select(*agg_keys)), agg_keys,
                "left_semi",
            )
            src_rows = delta.join(
                F.broadcast(old_hit.select(*state_cols)), agg_keys,
                "left_outer",
            ).select(
                *agg_keys,
                (
                    F.coalesce(F.col("n"), F.lit(0)) + F.col("d_n")
                ).alias("n"),
                *[
                    (
                        F.coalesce(
                            F.col(f"sum_{c}"),
                            F.lit(0).cast("decimal(28,6)"),
                        )
                        + F.coalesce(
                            F.col(f"d_sum_{c}"),
                            F.lit(0).cast("decimal(28,6)"),
                        )
                    )
                    .cast("decimal(28,6)")
                    .alias(f"sum_{c}")
                    for c in sum_cols
                ],
            )
            if state_buckets is not None:
                src_rows = src_rows.withColumn("__kb", kbucket())
            src_rows = src_rows.persist()
            try:
                src_rows.count()
                dst.merge_into(
                    spark, src_rows, agg_keys, delete_when="n = 0",
                    extra=extra, prune=prune,
                )
            except CommitConflict:
                return None  # lost the race; destination untouched
            finally:
                src_rows.unpersist()
        finally:
            delta.unpersist()
        return head
    state = incremental_agg_update(
        dst.read(spark, expected),
        changes,
        keys=agg_keys,
        sum_cols=sum_cols,
    )
    if dst.overwrite_if(state, expected, extra=extra) is None:
        return None  # lost the race; destination untouched
    return head


def txlog_join_view_step(
    spark,
    a_path: str,
    b_path: str,
    a_keys: list[str],
    b_keys: list[str],
    join_keys: list[str],
    a_cols: list[str],
    b_cols: list[str],
    dst_path: str,
    apply: str = "overwrite",
    state_buckets: int | None = None,
    catalog=None,
    catalog_names: tuple[str, str] = ("a", "b"),
) -> tuple[int, int] | None:
    """ONE transactional step maintaining a materialized JOIN view over
    TWO independently-mutating txlog tables — the two-source extension
    of :func:`txlog_cdf_consumer_step`: advance the Z-set view at
    ``dst_path`` (built by :func:`..operators.ivm.join_view_state`) to
    both sources' current heads and return ``(a_head, b_head)``
    (None when already caught up on both, or a concurrent consumer won
    the commit race).

    The destination commit carries ``{"a_version", "b_version"}`` —
    BOTH watermarks in the ONE atomic commit that applies the delta,
    so a crash between reading feed A and feed B cannot split the
    view's consistency: either the commit lands with both cursors
    advanced or nothing happened.  ``a_keys``/``b_keys`` are each
    side's unique row keys (change_feed's diffing contract — distinct
    from ``join_keys``, the view's equi-join columns).

    The delta is the bilinear rule of
    :func:`..operators.ivm.incremental_join_update` probing the HEAD
    snapshots key-pruned — changes on side A read only B's partitions
    holding ΔA's join keys and vice versa; neither base nor the view
    is rescanned after bootstrap.  At 100 TB this is the difference
    between "enriched matview kept current for the cost of the churn"
    and "re-join the world every refresh".

    ``apply`` picks how the delta lands in storage:

    - ``"overwrite"`` (default): in-plan full-outer merge + whole-view
      rewrite (``overwrite_if``) — simplest, view-sized WRITE per step.
    - ``"merge"``: the delta alone (Z-set, churn-sized) joins the
      current view for final multiplicities and lands via
      ``merge_into(delete_when="n = 0")`` — updates, inserts, AND
      zero-multiplicity retractions in ONE atomic commit carrying the
      watermarks, rewriting ONLY the files holding affected view rows
      (CoW write amplification bounded by the churn, the mode a
      100 TB view wants).  Constraints: view columns must be NULL-free
      (MERGE equi-join semantics — NULL keys never match), and the
      mode assumes a SINGLE maintenance writer per view (the CAS is
      merge-internal, so a racing consumer between the state read and
      the merge commit interleaves instead of losing cleanly — the
      overwrite mode keeps the strict expected-version CAS);
      bootstrap and caught-up behavior are identical.

    ``state_buckets`` (merge mode only) keys-partitions the VIEW
    STATE: the bootstrap creates the destination hive-partitioned on
    ``__kb = pmod(xxhash64(join_keys), state_buckets)`` and every
    maintenance step derives the delta's bucket set and passes it as
    ``merge_into``'s ``prune`` spec, so BOTH the matched-row discovery
    scan and the old-multiplicity read open only the files under the
    churn's buckets (manifest partition pruning, no data I/O outside
    them).  This closes join-IVM's one irreducible base-sized term —
    the state merge — at 100 TB view sizes: maintenance I/O becomes
    affected-partition-sized.  Same-key rows hash to the same bucket
    (xxhash64 is seed-stable across sessions), so no matched view row
    can live outside the pruned set — the precondition merge_into's
    ``prune`` contract requires.  Consumers reading the view should
    drop the ``__kb`` column.

    ``catalog`` (round 11): a :class:`..sources.txlog.Catalog` whose
    pins name both sources (``catalog_names`` maps pin names to the
    a/b sides). When set, the step advances to the PINNED versions
    instead of each table's head — so a multi-table writer that
    commits A and B separately and publishes atomically can never
    hand this consumer a torn (new A, old B) pair, no matter how the
    commits interleave with the step."""
    from ..operators.ivm import (
        incremental_join_update,
        join_view_delta,
        join_view_state,
    )
    from ..sources.txlog import CommitConflict, TxLogTable

    if apply not in ("overwrite", "merge"):
        raise ValueError(f"txlog_join_view_step: bad apply={apply!r}")
    if state_buckets is not None and apply != "merge":
        raise ValueError(
            "txlog_join_view_step: state_buckets requires apply='merge'"
        )

    def kbucket():
        return F.pmod(
            F.xxhash64(*[F.col(k) for k in join_keys]),
            F.lit(state_buckets),
        ).cast("long")

    a, b = TxLogTable(a_path), TxLogTable(b_path)
    if catalog is not None:
        # consistent two-source heads: resolve the catalog's pin view
        # ONCE (the Iceberg catalog-pointer read) — a writer that
        # committed table A but crashed before publishing can never
        # hand this consumer the torn (new A, old B) pair, because
        # unpublished table commits are invisible through the pins.
        pins = catalog.pins()
        missing = [n for n in catalog_names if n not in pins]
        if missing:
            raise KeyError(
                f"txlog_join_view_step: catalog has no pins for "
                f"{missing} (pinned: {sorted(pins)})"
            )
        a_head = int(pins[catalog_names[0]])
        b_head = int(pins[catalog_names[1]])
    else:
        a_head, b_head = a.latest_version(), b.latest_version()
    dst = TxLogTable(dst_path)
    if not dst.versions():
        state = join_view_state(
            a.read(spark, a_head), b.read(spark, b_head),
            join_keys, a_cols, b_cols,
        )
        try:
            if state_buckets is not None:
                TxLogTable.create(
                    dst_path,
                    state.withColumn("__kb", kbucket())
                    # co-locate each bucket's rows before the
                    # partitionBy write: one file per non-empty
                    # bucket instead of (#input partitions x
                    # #buckets) fragments
                    .repartition(state_buckets, "__kb"),
                    partition_by=["__kb"],
                    extra={"a_version": a_head, "b_version": b_head},
                )
            else:
                TxLogTable.create(
                    dst_path, state,
                    extra={"a_version": a_head, "b_version": b_head},
                )
            return (a_head, b_head)
        except (CommitConflict, FileExistsError):
            return None  # concurrent bootstrap won; next tick continues
    meta = _latest_meta_with(dst, ["a_version", "b_version"])
    if meta is None:
        raise ValueError(
            f"destination {dst_path} exists but carries no "
            f"a_version/b_version metadata — not a join-view table"
        )
    last_a = int(meta["a_version"])
    last_b = int(meta["b_version"])
    if a_head <= last_a and b_head <= last_b:
        return None  # caught up on both sides

    def feed(t, last, head, keys, cols):
        sel = [*join_keys, *cols, "op"]
        if head <= last:  # this side idle: empty feed, right schema
            return (
                t.read(spark, head)
                .select(*join_keys, *cols)
                .withColumn("op", F.lit("I"))
                .limit(0)
                .select(*sel)
            )
        return t.change_feed(
            spark, keys=keys, from_version=last + 1, to_version=head,
            normalize_updates=True,
        ).select(*sel)

    # The feeds are referenced several times inside the delta (signed
    # weights, both broadcast probes) — persist them so the commit-
    # scoped change-feed reconstruction runs ONCE per side, not once
    # per reference (measured: the unpersisted feeds dominated the
    # step's wall-clock at 5M-row bases).
    a_changes = feed(a, last_a, a_head, a_keys, a_cols).persist()
    b_changes = feed(b, last_b, b_head, b_keys, b_cols).persist()
    expected = dst.latest_version()
    extra = {"a_version": a_head, "b_version": b_head}
    try:
        return _apply_join_view_delta(
            spark, a, b, dst, a_head, b_head, expected, extra,
            a_changes, b_changes, join_keys, a_cols, b_cols, apply,
            state_buckets, kbucket,
        )
    finally:
        a_changes.unpersist()
        b_changes.unpersist()


def _apply_join_view_delta(
    spark, a, b, dst, a_head, b_head, expected, extra,
    a_changes, b_changes, join_keys, a_cols, b_cols, apply,
    state_buckets, kbucket,
):
    from ..operators.ivm import (
        incremental_join_update,
        join_view_delta,
    )
    from ..sources.txlog import CommitConflict

    if apply == "merge":
        view_cols = [*join_keys, *a_cols, *b_cols]
        delta = join_view_delta(
            a_changes, b_changes,
            a.read(spark, a_head), b.read(spark, b_head),
            join_keys, a_cols, b_cols,
        )
        # The delta feeds several consumers (bucket collect, dup
        # check, affected-file discovery, replacement write); without
        # pinning, each re-executes the whole delta plan INCLUDING its
        # base probes — measured 2.5× slower than the overwrite path
        # until this persist made the delta compute once.
        delta = delta.persist()
        try:
            delta.count()
            prune = None
            if state_buckets is not None:
                # the churn's bucket set (bounded by state_buckets):
                # the manifest prune spec for BOTH view reads below
                hit_kb = sorted(
                    r["__kb"]
                    for r in delta.select(
                        F.pmod(
                            F.xxhash64(*[F.col(k) for k in join_keys]),
                            F.lit(state_buckets),
                        ).cast("long").alias("__kb")
                    ).distinct().collect()
                )
                prune = {"__kb": hit_kb}
            # final multiplicities for JUST the delta's view rows: old
            # n (0 when new) + w; n == 0 rows become delete_when
            # retractions. The view scan is semi-restricted to delta
            # rows FIRST (broadcast the churn-sized delta; a preserved
            # small side can't broadcast in an outer join directly),
            # so both joins stay map-side over one view scan — a scan
            # that opens only the churn's bucket partitions when the
            # state is key-partitioned.
            old = dst.read(spark, expected, prune=prune)
            old_hit = old.join(
                F.broadcast(delta.select(*view_cols)), view_cols,
                "left_semi",
            )
            src = delta.join(
                F.broadcast(old_hit.select(*view_cols, "n")),
                view_cols,
                "left_outer",
            ).select(
                *view_cols,
                (F.coalesce(F.col("n"), F.lit(0)) + F.col("w")).alias(
                    "n"
                ),
            )
            if state_buckets is not None:
                src = src.withColumn("__kb", kbucket())
            src = src.persist()
            try:
                src.count()
                dst.merge_into(
                    spark, src, view_cols, delete_when="n = 0",
                    extra=extra, prune=prune,
                )
            except CommitConflict:
                return None  # lost the race; destination untouched
            finally:
                src.unpersist()
        finally:
            delta.unpersist()
        return (a_head, b_head)
    state = incremental_join_update(
        dst.read(spark, expected),
        a_changes,
        b_changes,
        a.read(spark, a_head),
        b.read(spark, b_head),
        join_keys,
        a_cols,
        b_cols,
    )
    if (
        dst.overwrite_if(
            state, expected,
            extra={"a_version": a_head, "b_version": b_head},
        )
        is None
    ):
        return None  # lost the race; destination untouched
    return (a_head, b_head)


def stream_txlog_join_view(
    spark,
    a_path: str,
    b_path: str,
    a_keys: list[str],
    b_keys: list[str],
    join_keys: list[str],
    a_cols: list[str],
    b_cols: list[str],
    dst_path: str,
    checkpoint: str,
    tick_seconds: float = 0.5,
    apply: str = "overwrite",
    state_buckets: int | None = None,
):
    """The running host for :func:`txlog_join_view_step` — the same
    rate-ticker/foreachBatch pattern as :func:`stream_txlog_cdf_to_agg`
    (whose restart/exactly-once behavior is pinned in tests and lives
    entirely in the destination's atomic watermark commits, not the
    ticker checkpoint): a join matview over two mutating txlog tables
    kept continuously current.  Returns the started StreamingQuery;
    callers stop it."""

    def on_tick(_df, _bid) -> None:
        txlog_join_view_step(
            spark, a_path, b_path, a_keys, b_keys, join_keys,
            a_cols, b_cols, dst_path, apply=apply,
            state_buckets=state_buckets,
        )

    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{tick_seconds} seconds")
        .foreachBatch(on_tick)
        .start()
    )


def stream_index_refresh(
    spark,
    index_root: str,
    corpus_root: str,
    checkpoint: str,
    *,
    kind: str = "text",
    tick_seconds: float = 1.0,
    **refresh_kwargs,
):
    """Keep an at-rest index continuously synced to its mutating
    corpus table — the running host for
    :func:`..operators.search.text_index_refresh` /
    :func:`..operators.similarity.ivf_index_refresh` (round 10), on
    the same rate-ticker/foreachBatch pattern as the other txlog
    consumers: progress lives entirely in the index's atomic
    ``idx_src_version`` watermark commits (a caught-up tick is a
    no-op; a crashed tick redelivers from the committed watermark),
    the ticker checkpoint is cadence only.  Returns the started
    StreamingQuery; callers stop it."""
    if kind == "text":
        from ..operators.search import text_index_refresh as _refresh
    elif kind == "ivf":
        from ..operators.similarity import ivf_index_refresh as _refresh
    else:
        raise ValueError(f"stream_index_refresh: bad kind={kind!r}")

    def on_tick(_df, _bid) -> None:
        _refresh(spark, index_root, corpus_root, **refresh_kwargs)

    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{tick_seconds} seconds")
        .foreachBatch(on_tick)
        .start()
    )


def stream_txlog_cdf_to_agg(
    spark,
    source_path: str,
    keys: list[str],
    agg_keys: list[str],
    sum_cols: list[str],
    dst_path: str,
    checkpoint: str,
    tick_seconds: float = 0.5,
):
    """The poll loop of :func:`txlog_cdf_consumer_step` hosted inside
    Structured Streaming: a ``rate`` ticker drives ``foreachBatch``,
    each tick runs one consumer step — txlog → change feed → IVM as a
    RUNNING pipeline (Delta's CDF ``readStream`` analogue for the
    from-scratch table format). The ticker's checkpoint only preserves
    trigger cadence; correctness state lives entirely in the
    destination table's atomic ``source_version`` commits, so kill the
    query anywhere and a restart (same or fresh checkpoint) resumes
    from the last committed version without loss or double-apply —
    the stream≡batch equality law is pinned in tests/test_streaming.py
    across exactly such a restart.

    Returns the started StreamingQuery; callers stop it.
    """

    def on_tick(_df, _bid) -> None:
        txlog_cdf_consumer_step(
            spark, source_path, keys, agg_keys, sum_cols, dst_path
        )

    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{tick_seconds} seconds")
        .foreachBatch(on_tick)
        .start()
    )
