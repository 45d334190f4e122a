"""Structured Streaming surface tests: each streaming operator must
agree with its batch equivalent when the whole input arrives as one
micro-batch from a file source (processAllAvailable drains it)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE
from etl_sendas_spark.operators.marking import gap_anchor_mark
from etl_sendas_spark.sources.readers import normalize_event_time
from etl_sendas_spark.streaming.sessions import (
    gap_anchor_mark_stream,
    run_stream_to_memory,
    session_window_agg,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Small deterministic slice of the events table staged as a file
    source (streaming reads need a directory + explicit schema)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    (
        spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .filter(F.col("user_id") < 20)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def _read_stream(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    df = spark.readStream.schema(schema).parquet(events_dir)
    # nanosAsLong bigint OR µs-NTZ parquet — both → LTZ timestamp
    # (watermarks require TIMESTAMP, and the testdata's flavor has
    # changed across driver regenerations)
    return normalize_event_time(df, "ts")


def _batch(spark, events_dir):
    return normalize_event_time(spark.read.parquet(events_dir), "ts")


def test_tumbling_counts_match_batch(spark, events_dir):
    stream = tumbling_counts(_read_stream(spark, events_dir), window="1 hour")
    run_stream_to_memory(stream, "t_tumbling", output_mode="complete")
    got = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("t_tumbling").collect()
    }
    expect = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["total_value"])
        for r in _batch(spark, events_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == expect and len(got) > 0


def test_session_window_matches_batch(spark, events_dir):
    stream = session_window_agg(
        _read_stream(spark, events_dir), gap="30 minutes", watermark="1 hour"
    )
    run_stream_to_memory(stream, "t_sessions", output_mode="complete")
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.table("t_sessions").collect()
    }
    expect = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in _batch(spark, events_dir)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .collect()
    }
    assert got == expect and len(got) > 0


def test_gap_anchor_stream_matches_batch(spark, events_dir):
    stream = gap_anchor_mark_stream(
        _read_stream(spark, events_dir).select("event_id", "user_id", "ts"),
        group_keys=["user_id"],
        ts_col="ts",
        gap_days=3,
    )
    run_stream_to_memory(stream, "t_gap", output_mode="append")
    got = {
        r["event_id"]: r["validacion"] for r in spark.table("t_gap").collect()
    }
    expect = {
        r["event_id"]: r["validacion"]
        for r in gap_anchor_mark(
            _batch(spark, events_dir).select("event_id", "user_id", "ts"),
            group_keys=["user_id"],
            ts_col="ts",
            order_by=["ts", "event_id"],
            gap_days=3,
        ).collect()
    }
    assert len(got) == len(expect) > 0
    assert got == expect


def test_stream_to_partitioned_parquet_sink(spark, events_dir, tmp_path):
    """foreachBatch parquet sink: streamed rows land hive-partitioned
    under a batch_id idempotence key and equal the batch input exactly;
    a replayed batch rewrites its directory instead of duplicating."""
    from etl_sendas_spark.streaming.sessions import stream_to_partitioned_parquet

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = _read_stream(spark, events_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    stream_to_partitioned_parquet(
        stream, out, ckpt, partition_by=["event_type"], output_mode="append"
    )
    import os

    batches = {d for d in os.listdir(out) if d.startswith("batch_id=")}
    assert batches, os.listdir(out)
    parts = {
        d
        for b in batches
        for d in os.listdir(os.path.join(out, b))
        if d.startswith("event_type=")
    }
    assert len(parts) == 5, parts
    got = spark.read.parquet(out)
    src = _batch(spark, events_dir)
    assert got.count() == src.count()
    assert (
        got.agg(F.sum("event_id")).first()[0] == src.agg(F.sum("event_id")).first()[0]
    )

    # replay idempotence: restart from a FRESH checkpoint (the previous
    # run's batches replay with the same ids) — row count must not grow
    ckpt2 = str(tmp_path / "ckpt2")
    stream_to_partitioned_parquet(
        stream, out, ckpt2, partition_by=["event_type"], output_mode="append"
    )
    assert spark.read.parquet(out).count() == src.count()


def test_interval_join_matches_batch(spark, events_dir):
    """Stream-stream interval join must equal the batch interval join
    over the same bounded input (clicks → views within 1 hour)."""
    from etl_sendas_spark.streaming.sessions import (
        interval_join_streams,
        run_stream_to_memory,
    )

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"), "ts"
        )
        views = df.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("r_ts"),
        )
        return clicks, views

    sc, sv = sides(_read_stream(spark, events_dir))
    joined = interval_join_streams(
        sc, sv, key_col="user_id", left_ts="ts", right_ts="r_ts",
        within="1 hour", watermark="2 hours",
    )
    run_stream_to_memory(joined, "ij_test", output_mode="append")
    got = {
        (r["user_id"], r["click_id"], r["view_id"])
        for r in spark.table("ij_test").collect()
    }

    bc, bv = sides(_batch(spark, events_dir))
    expected = {
        (r["user_id"], r["click_id"], r["view_id"])
        for r in bc.join(
            bv,
            (bc["user_id"] == bv["user_id"])
            & (bv["r_ts"] >= bc["ts"])
            & (bv["r_ts"] <= bc["ts"] + F.expr("INTERVAL 1 HOUR")),
            "inner",
        ).collect()
    }
    assert got == expected
    assert len(expected) > 0


def test_gap_anchor_state_is_evicted_after_watermark(spark, tmp_path):
    """The event-time timeout bound: groups whose anchor + gap + 1d has
    fallen behind the watermark must be dropped from the state store —
    an unbounded stream holds a sliding window of active groups, not
    every group ever seen. Three files arrive as three micro-batches
    (maxFilesPerTrigger=1, mtime-ordered); by the last batch the
    watermark is ~day 100, so the day-0 groups (timeout day 4) are
    evicted while the recent groups survive."""
    import os

    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_file(n, rows, mtime):
        path = os.path.join(src, f"f{n}.parquet")
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    import datetime as dt

    day = lambda d, h=0: dt.datetime(2024, 1, 1) + dt.timedelta(days=d, hours=h)
    # batch 1: users 1 and 2 anchor at day 0
    write_file(1, [(1, 1, day(0)), (2, 2, day(0, 1))], 1_000)
    # batch 2: user 3 at day 100 — watermark jumps past day 4 timeouts
    write_file(2, [(3, 3, day(100))], 2_000)
    # batch 3: user 4 at day 101 — triggers eviction sweep for 1 and 2
    write_file(3, [(4, 4, day(101))], 3_000)

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*.parquet"))
    )
    marked = gap_anchor_mark_stream(
        stream, group_keys=["user_id"], ts_col="ts", gap_days=3,
        watermark="1 day",
    )
    q = run_stream_to_memory(marked, "t_gap_evict", output_mode="append")

    # every on-time event came out marked (all are group-firsts or >3d gaps)
    got = {
        r["event_id"]: r["validacion"]
        for r in spark.table("t_gap_evict").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}

    state_rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    assert state_rows == 2, q.lastProgress["stateOperators"]


def test_stream_upsert_sink_keyed_merge(spark, tmp_path):
    """Streaming MERGE-by-key sink: three files arrive as three
    micro-batches; the final snapshot holds exactly the latest value
    per key (within-batch last-writer-wins on ts, later batches
    overwrite earlier ones), and intermediate versions are committed
    snapshots a replay can rebase on."""
    import datetime as dt
    import os

    from etl_sendas_spark.streaming.sessions import (
        read_upsert_table,
        stream_upsert_to_parquet,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_file(n, rows, mtime):
        path = os.path.join(src, f"f{n}.parquet")
        spark.createDataFrame(
            rows, "k long, v string, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    # batch 1: keys 1, 2; within-batch duplicate for key 1 — ts wins
    write_file(1, [(1, "a0", t(0)), (1, "a1", t(5)), (2, "b0", t(1))], 1_000)
    # batch 2: update key 2, insert key 3
    write_file(2, [(2, "b1", t(10)), (3, "c0", t(11))], 2_000)
    # batch 3: update key 1 with an OLDER ts — batch order still wins
    write_file(3, [(1, "a2", t(2))], 3_000)

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*.parquet"))
    )
    table = str(tmp_path / "table")
    stream_upsert_to_parquet(
        stream, table, str(tmp_path / "ckpt"), keys=["k"], seq_col="ts"
    )

    got = {r.k: r.v for r in read_upsert_table(spark, table).collect()}
    assert got == {1: "a2", 2: "b1", 3: "c0"}

    # three committed snapshots, monotone content
    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(table) if d.startswith("v=")
    )
    assert len(versions) == 3
    first = {
        r.k: r.v
        for r in spark.read.parquet(os.path.join(table, f"v={versions[0]}")).collect()
    }
    assert first == {1: "a1", 2: "b0"}


def test_stream_maintained_agg_view_equals_batch_aggregate(spark, tmp_path):
    """The streaming materialized view (per-batch IVM over versioned
    snapshots) must equal the one-shot batch aggregate of everything
    streamed, whatever the batch boundaries."""
    import os

    from etl_sendas_spark.operators.ivm import aggregate_state
    from etl_sendas_spark.streaming.sessions import (
        read_upsert_table,
        stream_maintain_agg_view,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows1 = [("a", 1.0), ("b", 2.0), ("a", 3.0)]
    rows2 = [("b", 4.0), ("c", 5.0)]
    rows3 = [("a", 6.0), ("c", 7.0), ("c", 8.0)]

    def write_file(n, rows, mtime):
        path = os.path.join(src, f"f{n}.parquet")
        spark.createDataFrame(rows, "k string, v double").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    for i, rows in enumerate([rows1, rows2, rows3], start=1):
        write_file(i, rows, i * 1000)

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*.parquet"))
    )
    view = str(tmp_path / "view")
    stream_maintain_agg_view(
        stream, view, str(tmp_path / "ckpt"), keys=["k"], sum_cols=["v"]
    )

    got = sorted(
        (r.k, r.n, float(r.sum_v))
        for r in read_upsert_table(spark, view).collect()
    )
    full = spark.createDataFrame(rows1 + rows2 + rows3, "k string, v double")
    want = sorted(
        (r.k, r.n, float(r.sum_v))
        for r in aggregate_state(full, ["k"], ["v"]).collect()
    )
    assert got == want
    assert len([d for d in os.listdir(view) if d.startswith("v=")]) == 3


def test_interval_left_join_nulls_gated_by_watermark(spark):
    """The left-outer stream join must emit SOME null-extended rows
    (eviction happened) but FEWER than a naive batch outer join's
    unmatched count (rows newer than final_watermark - within are
    still buffered at shutdown) — i.e. the watermark predicate in the
    oracle is load-bearing, not decorative."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.plans.inventory import (
        _stream_events,
        streaming_interval_left_join,
    )
    from conftest import SF_SMOKE

    res = streaming_interval_left_join(spark, SF_SMOKE)
    n_null = res.filter(F.col("view_id").isNull()).count()

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    from etl_sendas_spark.sources.readers import normalize_event_time

    ev = normalize_event_time(ev, "ts")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("r_ts"),
    )
    naive_unmatched = (
        c.join(
            v,
            (c["user_id"] == v["vu"])
            & (v["r_ts"] >= c["ts"])
            & (v["r_ts"] <= F.expr("ts + INTERVAL 1 hour")),
            "left_outer",
        )
        .filter(F.col("view_id").isNull())
        .count()
    )
    assert 0 < n_null < naive_unmatched


def test_streaming_restart_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across a mid-stream restart: process wave 1, stop,
    land wave 2, restart against the SAME checkpoint — the resumed
    query must pick up only the new file (offsets from the checkpoint),
    and the sink must equal the batch union with no duplicates. A
    third restart with no new data must add nothing."""
    import os

    from etl_sendas_spark.streaming.sessions import (
        stream_to_partitioned_parquet,
    )
    from etl_sendas_spark.sources.readers import normalize_event_time

    full = normalize_event_time(
        spark.read.parquet(f"{SF_ORACLE}/events.parquet"), "ts"
    ).filter(F.col("user_id") < 20).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    wave1 = full.filter(F.col("event_id") % 2 == 0).coalesce(1)
    wave2 = full.filter(F.col("event_id") % 2 == 1).coalesce(1)
    wave1.write.parquet(str(tmp_path / "w1"))
    for f in os.listdir(str(tmp_path / "w1")):
        if f.endswith(".parquet"):
            os.rename(str(tmp_path / "w1" / f), os.path.join(stage, "w1.parquet"))

    schema = spark.read.parquet(stage).schema
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(stage)
        stream_to_partitioned_parquet(
            stream, out, ckpt, partition_by=["event_type"],
            output_mode="append",
        )

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == wave1.count()

    wave2.write.parquet(str(tmp_path / "w2"))
    for f in os.listdir(str(tmp_path / "w2")):
        if f.endswith(".parquet"):
            os.rename(str(tmp_path / "w2" / f), os.path.join(stage, "w2.parquet"))
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == full.count()
    assert got.select("event_id").distinct().count() == full.count()

    run_once()  # no new data: nothing replays, nothing duplicates
    assert spark.read.parquet(out).count() == full.count()


def test_gap_anchor_evictions_piggyback_on_data_batches(spark, tmp_path):
    """Settles the round-4/5 bench residual: on a MULTI-BATCH source,
    eviction work rides the data batches. The static bench harness has
    one file = one data batch, so the watermark only advances after it
    and Spark must spin ONE dedicated no-data micro-batch to fire
    timeouts — a fixed harness artifact, not a per-eviction cost. Here
    six files arrive as six micro-batches with 30-day jumps (five
    eviction waves); the proof is structural:

    - total micro-batches == n_data_batches + a constant tail (<=2),
      NOT n_data_batches + n_eviction_waves;
    - state rows are actually removed (waves really fired);
    - every batch that removed state ALSO carried input rows, except
      at most the constant tail — evictions piggybacked.
    """
    import os

    import datetime as dt

    src = str(tmp_path / "src")
    os.makedirs(src)
    day = lambda d, h=0: dt.datetime(2024, 1, 1) + dt.timedelta(days=d, hours=h)

    def write_file(n, rows, mtime):
        path = os.path.join(src, f"f{n}.parquet")
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    n_files = 6
    per_wave = 40
    eid = 0
    for w in range(n_files):
        rows = []
        for u in range(per_wave):
            eid += 1
            # each wave 30 days after the previous; per-wave users are
            # unique, so wave w's anchors (timeout ~ day 30w + 11) are
            # due once wave w+1's watermark (day 30(w+1) - 1) arrives
            rows.append((eid, w * per_wave + u, day(w * 30, u % 24)))
        write_file(w + 1, rows, 1_000 * (w + 1))

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*.parquet"))
    )
    marked = gap_anchor_mark_stream(
        stream, group_keys=["user_id"], ts_col="ts", gap_days=3,
        watermark="1 day",
    )
    q = run_stream_to_memory(marked, "t_gap_piggyback", output_mode="append")

    import json as _json

    progress = [_json.loads(p.json) for p in q.recentProgress]
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    tail = [p for p in progress if p["numInputRows"] == 0]
    assert len(data_batches) == n_files, [p["numInputRows"] for p in progress]
    # the harness artifact is a CONSTANT: <= 2 trailing no-data batches
    # (one to fire the final timeouts, possibly one no-op probe), never
    # one per eviction wave
    assert len(tail) <= 2, [p["numInputRows"] for p in progress]

    removed_total = sum(
        p["stateOperators"][0]["numRowsRemoved"] for p in progress
    )
    assert removed_total >= per_wave * (n_files - 2), removed_total
    # eviction waves fired INSIDE data batches
    piggybacked = [
        p for p in data_batches if p["stateOperators"][0]["numRowsRemoved"] > 0
    ]
    assert len(piggybacked) >= n_files - 3, [
        (p["numInputRows"], p["stateOperators"][0]["numRowsRemoved"])
        for p in progress
    ]
    # and the output is still exactly the batch semantics: every event
    # here is its group's first -> all marked
    assert spark.table("t_gap_piggyback").count() == eid


def _land_file(spark, src, name, rows, schema, mtime):
    import os

    path = os.path.join(src, name)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    for root, _dirs, files in os.walk(path):
        for f in files:
            os.utime(os.path.join(root, f), (mtime, mtime))
    os.utime(path, (mtime, mtime))


def _force_replay_of_last_batch(ckpt):
    """Simulate the crash window the sinks' rebase logic exists for:
    the sink wrote its snapshot but the checkpoint commit never landed.
    Deleting the newest commits/<n> file puts the checkpoint in exactly
    that state — on restart Spark re-runs batch n with the same offsets
    and batch_id, which the versioned sink must absorb idempotently."""
    import os

    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    # drop the Hadoop checksum shadow too, or the recovered run's
    # rewrite of commits/<n> trips ChecksumFileSystem and Spark
    # misreads it as a concurrent query on the same checkpoint
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return last


def test_upsert_sink_recovers_through_checkpoint_restart(spark, tmp_path):
    """Kill-and-restart through a REAL checkpoint recovery (r5 item 4):
    run two micro-batches, crash after the sink wrote v=1 but before
    the checkpoint committed batch 1, restart from the same checkpoint
    dir (batch 1 replays and must rewrite v=1, not double-apply), then
    continue with new data (batch 2 -> v=2). Final table must equal the
    batch merge oracle and hold exactly one version per batch id."""
    import datetime as dt
    import os

    from etl_sendas_spark.streaming.sessions import (
        read_upsert_table,
        stream_upsert_to_parquet,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    sch = "k long, v string, ts timestamp"
    _land_file(spark, src, "f1.parquet", [(1, "a0", t(0)), (2, "b0", t(1))], sch, 1000)
    _land_file(spark, src, "f2.parquet", [(2, "b1", t(10)), (3, "c0", t(11))], sch, 2000)

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    table, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*.parquet"))
        )
        stream_upsert_to_parquet(stream, table, ckpt, keys=["k"], seq_col="ts")

    run_once()  # batches 0, 1 -> v=0, v=1
    replayed = _force_replay_of_last_batch(ckpt)
    assert replayed == 1
    # tamper v=1 so we can PROVE the replay rewrote it (not skipped it)
    marker = os.path.join(table, "v=1", "_TAMPER")
    open(marker, "w").close()

    _land_file(spark, src, "f3.parquet", [(1, "a1", t(20))], sch, 3000)
    run_once()  # replays batch 1 (rewrites v=1), then batch 2 -> v=2

    assert not os.path.exists(marker), "replayed batch must rewrite its snapshot"
    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(table) if d.startswith("v=")
    )
    assert versions == [0, 1, 2], versions
    got = {r.k: r.v for r in read_upsert_table(spark, table).collect()}
    assert got == {1: "a1", 2: "b1", 3: "c0"}
    # the replayed v=1 must equal what it held pre-crash: batch-1 merge
    mid = {
        r.k: r.v for r in spark.read.parquet(os.path.join(table, "v=1")).collect()
    }
    assert mid == {1: "a0", 2: "b1", 3: "c0"}


def test_matview_sink_recovers_through_checkpoint_restart(spark, tmp_path):
    """Same recovery protocol for the streaming materialized view: a
    replayed batch must REBASE on v=<prev> (not the torn v=<n> it
    half-wrote), so counts and sums never double-apply across the
    restart; new post-restart data keeps maintaining the view."""
    import os

    from etl_sendas_spark.operators.ivm import aggregate_state
    from etl_sendas_spark.streaming.sessions import (
        read_upsert_table,
        stream_maintain_agg_view,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    sch = "k string, v double"
    rows1 = [("a", 1.0), ("b", 2.0)]
    rows2 = [("b", 4.0), ("c", 5.0)]
    rows3 = [("a", 6.0), ("c", 7.0)]
    _land_file(spark, src, "f1.parquet", rows1, sch, 1000)
    _land_file(spark, src, "f2.parquet", rows2, sch, 2000)

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    view, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*.parquet"))
        )
        stream_maintain_agg_view(stream, view, ckpt, keys=["k"], sum_cols=["v"])

    run_once()
    assert _force_replay_of_last_batch(ckpt) == 1
    _land_file(spark, src, "f3.parquet", rows3, sch, 3000)
    run_once()

    got = sorted(
        (r.k, r.n, float(r.sum_v)) for r in read_upsert_table(spark, view).collect()
    )
    full = spark.createDataFrame(rows1 + rows2 + rows3, sch)
    want = sorted(
        (r.k, r.n, float(r.sum_v))
        for r in aggregate_state(full, ["k"], ["v"]).collect()
    )
    assert got == want, (got, want)  # replay did not double-count rows2
    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(view) if d.startswith("v=")
    )
    assert versions == [0, 1, 2], versions


def test_txlog_sink_skips_replayed_batch_exactly_once(spark, tmp_path):
    """The transactional upgrade of the upsert sink: each micro-batch
    commits ONE TxLogTable version carrying its batch id; a replayed
    batch (checkpoint commit lost after the table commit) is detected
    from the logged batch id and SKIPPED — no duplicate version, no
    double-apply. Time travel over the table is the stream's history."""
    import datetime as dt
    import os

    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import stream_upsert_to_txlog

    src = str(tmp_path / "src")
    os.makedirs(src)
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    sch = "k long, v string, ts timestamp"
    _land_file(spark, src, "f1.parquet", [(1, "a0", t(0)), (2, "b0", t(1))], sch, 1000)
    _land_file(spark, src, "f2.parquet", [(2, "b1", t(10)), (3, "c0", t(11))], sch, 2000)

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    table_path, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*.parquet"))
        )
        stream_upsert_to_txlog(stream, table_path, ckpt, keys=["k"], seq_col="ts")

    run_once()  # batches 0, 1 -> versions 0, 1
    table = TxLogTable(table_path)
    assert table.versions() == [0, 1]
    replayed = _force_replay_of_last_batch(ckpt)
    assert replayed == 1

    _land_file(spark, src, "f3.parquet", [(1, "a1", t(20))], sch, 3000)
    run_once()  # batch 1 replays (must SKIP), batch 2 applies

    assert table.versions() == [0, 1, 2]  # replay added no version
    metas = [table.commit_meta(v).get("batch_id") for v in table.versions()]
    assert metas == [0, 1, 2]  # one commit per batch, none duplicated
    final = {
        (r["k"], r["v"]) for r in table.read(spark).select("k", "v").collect()
    }
    assert final == {(1, "a1"), (2, "b1"), (3, "c0")}  # merge oracle
    # per-batch time travel: version 1 is the post-batch-1 state
    v1 = {(r["k"], r["v"]) for r in table.read(spark, 1).select("k", "v").collect()}
    assert v1 == {(1, "a0"), (2, "b1"), (3, "c0")}


def test_txlog_sink_survives_concurrent_batch_writers(spark, tmp_path, monkeypatch):
    """The production scenario round 6 left untested: batch writers
    landing on the SAME txlog table a stream is merging into —
    (a) between micro-batches (append, then compact), and (b) INSIDE a
    micro-batch's read-modify-write window (append injected between the
    stream's head read and its conditional commit, forcing
    ``overwrite_if`` to return None). Required outcomes: the concurrent
    writers' rows survive into the stream's committed version (a blind
    remove-set retry would drop them), the stream's retry commits its
    batch exactly once, and the batch-id replay scan keeps working
    across interleaved non-stream commits (append/compact carry no
    batch_id)."""
    import datetime as dt
    import os

    from etl_sendas_spark.sources import txlog as txlog_mod
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import stream_upsert_to_txlog

    src = str(tmp_path / "src")
    os.makedirs(src)
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    sch = "k long, v string, ts timestamp"
    table_path, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")

    def run_once():
        schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*.parquet"))
        )
        stream_upsert_to_txlog(stream, table_path, ckpt, keys=["k"], seq_col="ts")

    _land_file(spark, src, "f1.parquet", [(1, "a0", t(0)), (2, "b0", t(1))], sch, 1000)
    run_once()  # batch 0 -> version 0 (create)
    table = TxLogTable(table_path)
    assert table.versions() == [0]

    # (a) between micro-batches: a batch append, then a compact
    table.append(spark.createDataFrame([(9, "z0", t(5))], sch), spark)  # v1
    table.compact(spark)  # v2, no batch_id
    _land_file(spark, src, "f2.parquet", [(2, "b1", t(10))], sch, 2000)

    # (b) mid-commit: the FIRST conditional commit of the next stream
    # batch races a concurrent append landing after the stream's read
    real_overwrite_if = TxLogTable.overwrite_if
    race = {"fired": 0, "none_seen": 0}

    def racing_overwrite_if(self, df, expected_head, extra=None):
        if race["fired"] == 0:
            race["fired"] = 1
            TxLogTable(table_path).append(
                spark.createDataFrame([(8, "y0", t(11))], sch), spark
            )
        out = real_overwrite_if(self, df, expected_head, extra)
        if out is None:
            race["none_seen"] += 1
        return out

    monkeypatch.setattr(TxLogTable, "overwrite_if", racing_overwrite_if)
    run_once()  # batch 1: read head -> injected append -> conflict -> retry
    monkeypatch.setattr(TxLogTable, "overwrite_if", real_overwrite_if)

    assert race["fired"] == 1 and race["none_seen"] == 1  # retry path real
    # versions: 0 create, 1 append, 2 compact, 3 injected append,
    # 4 the stream batch's single commit after its retry
    assert table.versions() == [0, 1, 2, 3, 4]
    metas = [table.commit_meta(v).get("batch_id") for v in table.versions()]
    assert metas == [0, None, None, None, 1]  # exactly-once, scan-safe
    final = {
        (r["k"], r["v"]) for r in table.read(spark).select("k", "v").collect()
    }
    # both concurrent writers' rows survived the stream's re-merge
    assert final == {(1, "a0"), (2, "b1"), (9, "z0"), (8, "y0")}

    # the replay scan still resolves across the non-stream commits:
    # a replayed batch 1 must be skipped, a new batch 2 must apply
    replayed = _force_replay_of_last_batch(ckpt)
    assert replayed == 1
    _land_file(spark, src, "f3.parquet", [(9, "z1", t(20))], sch, 3000)
    run_once()
    assert table.versions() == [0, 1, 2, 3, 4, 5]  # replay added nothing
    assert table.commit_meta(5).get("batch_id") == 2
    assert {
        (r["k"], r["v"]) for r in table.read(spark).select("k", "v").collect()
    } == {(1, "a0"), (2, "b1"), (9, "z1"), (8, "y0")}


def test_txlog_cdf_streams_into_incremental_agg(spark, tmp_path):
    """txlog → CDF → IVM as one RUNNING pipeline (round 8): the
    foreachBatch consumer must keep the destination aggregate equal to
    aggregate_state(source.read()) at every consumed head, survive a
    kill-and-restart (fresh checkpoint — progress lives in the
    destination's atomic source_version commits), never double-apply a
    redelivered window, and never rescan the source after bootstrap."""
    import time

    from etl_sendas_spark.operators.ivm import aggregate_state
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import (
        stream_txlog_cdf_to_agg,
        txlog_cdf_consumer_step,
    )

    src_root = str(tmp_path / "src")
    dst_root = str(tmp_path / "dst")

    def rows(lo, hi, mult=1):
        return spark.range(lo, hi).selectExpr(
            "id AS k",
            "CAST(id % 3 AS BIGINT) AS grp",
            f"CAST(id * {mult} AS DOUBLE) AS x",
        )

    def batch_expect():
        return sorted(
            map(
                tuple,
                aggregate_state(
                    TxLogTable(src_root).read(spark),
                    keys=["grp"],
                    sum_cols=["x"],
                ).collect(),
            )
        )

    def dst_state():
        return sorted(map(tuple, TxLogTable(dst_root).read(spark).collect()))

    src = TxLogTable.create(src_root, rows(0, 60))

    # --- deterministic step law first (no timing dependence) ---------
    assert txlog_cdf_consumer_step(
        spark, src_root, ["k"], ["grp"], ["x"], dst_root
    ) == 0  # bootstrap consumed head 0
    assert dst_state() == batch_expect()
    # caught up -> no-op; a redelivered tick cannot double-apply
    assert txlog_cdf_consumer_step(
        spark, src_root, ["k"], ["grp"], ["x"], dst_root
    ) is None
    assert dst_state() == batch_expect()

    # inserts + deletes + updates through two commits
    src.overwrite(rows(0, 40).union(rows(100, 120)))
    src.overwrite(rows(0, 40, 3).union(rows(100, 120)))
    assert txlog_cdf_consumer_step(
        spark, src_root, ["k"], ["grp"], ["x"], dst_root
    ) == 2
    assert dst_state() == batch_expect()

    # --- the running pipeline, killed and restarted ------------------
    q = stream_txlog_cdf_to_agg(
        spark, src_root, ["k"], ["grp"], ["x"], dst_root,
        checkpoint=str(tmp_path / "ck1"), tick_seconds=0.25,
    )
    try:
        src.append(rows(200, 230), spark)
        deadline = time.time() + 60
        while time.time() < deadline:
            meta = TxLogTable(dst_root).commit_meta(
                TxLogTable(dst_root).latest_version()
            )
            if int(meta.get("source_version", -1)) >= 3:
                break
            time.sleep(0.25)
    finally:
        q.stop()  # kill mid-flight: restart must resume, not rewind
    assert dst_state() == batch_expect()

    # restart with a FRESH checkpoint: watermark is in the table, so
    # nothing replays and new commits still flow
    src.append(rows(300, 310), spark)
    q2 = stream_txlog_cdf_to_agg(
        spark, src_root, ["k"], ["grp"], ["x"], dst_root,
        checkpoint=str(tmp_path / "ck2"), tick_seconds=0.25,
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            meta = TxLogTable(dst_root).commit_meta(
                TxLogTable(dst_root).latest_version()
            )
            if int(meta.get("source_version", -1)) >= 4:
                break
            time.sleep(0.25)
    finally:
        q2.stop()
    assert dst_state() == batch_expect()
    # every consumed head left ONE atomic commit: source_version strictly
    # increasing across the destination's history
    dst = TxLogTable(dst_root)
    seen = [
        int(dst.commit_meta(v).get("source_version", -1))
        for v in dst.versions()
    ]
    assert seen == sorted(set(seen)), seen


def test_txlog_sink_composes_with_partitioned_table(spark, tmp_path):
    """The streaming MERGE sink and the partition spec compose: a
    partitioned destination keeps exactly-once upsert semantics, every
    committed version's files carry hive dirs, and the finished table
    partition-prunes."""
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import stream_upsert_to_txlog

    src_dir = str(tmp_path / "in")
    import os as _os

    _os.makedirs(src_dir)
    spark.range(0, 40).selectExpr(
        "id AS k", "CAST(id % 4 AS INT) AS p", "id AS seq", "id * 1.0 AS x"
    ).coalesce(1).write.mode("append").json(src_dir)

    def run_wave():
        stream = (
            spark.readStream.schema("k long, p int, seq long, x double")
            .json(src_dir)
        )
        stream_upsert_to_txlog(
            stream, root, str(tmp_path / "ck"), keys=["k"], seq_col="seq",
            partition_by=["p"],
        )

    root = str(tmp_path / "tbl")
    run_wave()
    t = TxLogTable(root)
    assert t._partition_cols() == ["p"]
    assert all("p=" in f for f in t.live_files())
    out = t.read(spark)
    assert out.count() == 40
    pr = t.read(spark, prune={"p": (2, 2)})
    assert len(pr.inputFiles()) < len(out.inputFiles())
    assert {r["p"] for r in pr.collect()} == {2}

    # a second wave (same checkpoint — batch ids advance, so the
    # exactly-once guard admits it) upserts through overwrite_if and
    # stays partitioned
    spark.range(30, 50).selectExpr(
        "id AS k", "CAST(id % 4 AS INT) AS p", "id + 100 AS seq", "id * 2.0 AS x"
    ).coalesce(1).write.mode("append").json(src_dir)
    run_wave()
    final = t.read(spark)
    assert final.count() == 50
    assert final.filter("k = 35").collect()[0]["x"] == 70.0  # upserted
    assert all("p=" in f for f in t.live_files())


def test_txlog_join_view_step_maintains_two_source_matview(spark, tmp_path):
    """Two-source join-view maintenance (round 9): the Z-set view at
    the destination must equal join_view_state(A.read(), B.read())
    after EVERY step — through A-only churn (append + dv delete),
    B-only churn (CoW update, row deletes), and both-sides commits in
    one step (the bilinear correction term live against real CDC
    feeds); both watermarks ride ONE atomic commit; caught-up ticks
    are no-ops."""
    from etl_sendas_spark.operators.ivm import join_view_state
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import txlog_join_view_step

    a_root = str(tmp_path / "facts")
    b_root = str(tmp_path / "dim")
    dst_root = str(tmp_path / "view")

    def facts(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k",
            "CAST(id % 5 AS BIGINT) AS j",
            "CAST(id % 3 AS STRING) AS a",
        )

    def dim(ids, tag):
        return spark.createDataFrame(
            [(int(i), f"{tag}{i}") for i in ids], "j LONG, b STRING"
        )

    a = TxLogTable.create(a_root, facts(0, 40))
    b = TxLogTable.create(b_root, dim(range(4), "s"))  # j=4 unmatched

    def expect():
        return sorted(
            map(
                tuple,
                join_view_state(
                    TxLogTable(a_root).read(spark),
                    TxLogTable(b_root).read(spark),
                    ["j"], ["a"], ["b"],
                ).collect(),
            )
        )

    def got():
        return sorted(map(tuple, TxLogTable(dst_root).read(spark).collect()))

    step = lambda: txlog_join_view_step(
        spark, a_root, b_root, ["k"], ["j"], ["j"], ["a"], ["b"], dst_root
    )

    assert step() == (0, 0)  # bootstrap
    assert got() == expect()
    assert step() is None  # caught up on both

    # A-only churn: append (j=4 rows now exist but still unmatched)
    # + dv delete; B idle — its empty feed must leave B terms zero
    a.append(facts(100, 120), spark)
    a.delete_where(spark, "k % 4 = 1", mode="dv")
    assert step() == (2, 0)
    assert got() == expect()

    # B-only churn: payload update (D+I through the normalized feed)
    # and a dim-key exit — every view row it fed must cascade out
    b.update_where(spark, {"b": "'moved'"}, "j = 2")
    b.delete_where(spark, "j = 0")
    assert step() == (2, 2)  # consumed heads (A idle at 2, B at 2)
    assert got() == expect()

    # both sides in ONE step: new facts land on a dim key that changes
    # in the same window — the ΔA⋈ΔB correction term against real feeds
    a.append(facts(200, 210), spark)
    b.update_where(spark, {"b": "'hot'"}, "j = 3")
    assert step() == (3, 3)
    assert got() == expect()
    assert step() is None

    # watermarks live in the destination commit, not a side file
    meta = TxLogTable(dst_root).commit_meta(
        TxLogTable(dst_root).latest_version()
    )
    assert (int(meta["a_version"]), int(meta["b_version"])) == (3, 3)


def test_txlog_join_view_step_merge_apply_mode(spark, tmp_path):
    """apply="merge" (round 9): same maintained view as the overwrite
    mode through the same churn ladder, but each step lands via
    merge_into(delete_when='n = 0') — updates, inserts, AND
    zero-multiplicity retractions in ONE commit that also carries the
    watermarks; the commit's remove-set is a STRICT subset of the live
    files (write amplification bounded by the churn, unlike the
    whole-view overwrite)."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.ivm import join_view_state
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import txlog_join_view_step

    a_root = str(tmp_path / "facts")
    b_root = str(tmp_path / "dim")
    dst_root = str(tmp_path / "view")

    def facts(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k",
            "CAST(id % 50 AS BIGINT) AS j",
            "CAST(id % 3 AS STRING) AS a",
        )

    a = TxLogTable.create(a_root, facts(0, 2000))
    b = TxLogTable.create(
        b_root,
        spark.createDataFrame(
            [(i, f"s{i % 7}") for i in range(50)], "j LONG, b STRING"
        ),
    )

    def expect():
        return sorted(
            map(
                tuple,
                join_view_state(
                    TxLogTable(a_root).read(spark),
                    TxLogTable(b_root).read(spark),
                    ["j"], ["a"], ["b"],
                ).collect(),
            )
        )

    step = lambda: txlog_join_view_step(
        spark, a_root, b_root, ["k"], ["j"], ["j"], ["a"], ["b"],
        dst_root, apply="merge",
    )
    assert step() == (0, 0)  # bootstrap (same as overwrite mode)
    dst = TxLogTable(dst_root)
    assert sorted(map(tuple, dst.read(spark).collect())) == expect()

    # a layout pass between steps: its commit carries NO watermarks —
    # the consumer must walk back to the newest commit that does
    # (j-clustered files also localize the next merge's rewrite)
    dst.compact(spark, target_files=8, zorder_by=["j"])

    # LOCALIZED churn: only j=7 and j=11 view rows are touched
    a.append(
        spark.range(5000, 5400).selectExpr(
            "id AS k", "CAST(id % 50 AS BIGINT) AS j",
            "CAST(id % 3 AS STRING) AS a",
        ).filter("j IN (7, 23)"),
        spark,
    )
    a.delete_where(spark, "k % 50 = 7 AND k < 100")
    b.update_where(spark, {"b": "'hot'"}, "j = 7")
    b.delete_where(spark, "j = 11")
    live_before = set(dst.live_files())
    assert step() == (2, 2)
    assert sorted(map(tuple, dst.read(spark).collect())) == expect()
    assert step() is None

    # the merge commit carries the watermarks AND bounded its rewrite
    v = dst.latest_version()
    meta = dst.commit_meta(v)
    assert (int(meta["a_version"]), int(meta["b_version"])) == (2, 2)
    rec = dst._read_commit(v)
    assert rec["op"] == "merge"
    removed = set(rec.get("remove", []))
    import os as _os

    live_rel = {_os.path.relpath(p, dst_root) for p in live_before}
    assert removed < live_rel  # strict subset: untouched files survive

    # zero-multiplicity retraction actually leaves no n == 0 tombstone
    assert dst.read(spark).filter(F.col("n") == 0).count() == 0


def test_stream_txlog_join_view_runs_and_catches_up(spark, tmp_path):
    """The running join-view host: commits landing on BOTH sources
    while the ticker runs are folded into the view, which converges to
    the batch recompute (progress lives in the destination watermark
    commits — the restart law is the step's, pinned above and in the
    agg-consumer's running test)."""
    import time

    from etl_sendas_spark.operators.ivm import join_view_state
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import (
        stream_txlog_join_view,
        txlog_join_view_step,
    )

    a_root = str(tmp_path / "facts")
    b_root = str(tmp_path / "dim")
    dst_root = str(tmp_path / "view")

    def facts(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id % 20 AS BIGINT) AS j",
            "CAST(id % 3 AS STRING) AS a",
        )

    a = TxLogTable.create(a_root, facts(0, 500))
    b = TxLogTable.create(
        b_root,
        spark.createDataFrame(
            [(i, f"s{i % 4}") for i in range(20)], "j LONG, b STRING"
        ),
    )
    # bootstrap synchronously so the stream only has increments to do
    txlog_join_view_step(
        spark, a_root, b_root, ["k"], ["j"], ["j"], ["a"], ["b"], dst_root
    )

    q = stream_txlog_join_view(
        spark, a_root, b_root, ["k"], ["j"], ["j"], ["a"], ["b"],
        dst_root, checkpoint=str(tmp_path / "ck"), tick_seconds=0.25,
    )
    try:
        a.append(facts(1000, 1100), spark)
        b.update_where(spark, {"b": "'hot'"}, "j = 5")
        deadline = time.time() + 60
        from etl_sendas_spark.streaming.sessions import _latest_meta_with

        while time.time() < deadline:
            meta = _latest_meta_with(
                TxLogTable(dst_root), ["a_version", "b_version"]
            )
            if meta and int(meta["a_version"]) >= 1 and int(meta["b_version"]) >= 1:
                break
            time.sleep(0.25)
    finally:
        q.stop()
    got = sorted(map(tuple, TxLogTable(dst_root).read(spark).collect()))
    want = sorted(
        map(
            tuple,
            join_view_state(
                TxLogTable(a_root).read(spark),
                TxLogTable(b_root).read(spark),
                ["j"], ["a"], ["b"],
            ).collect(),
        )
    )
    assert got == want


def test_txlog_join_view_step_key_partitioned_state(spark, tmp_path):
    """state_buckets (round 10): the view state is hive-partitioned on
    pmod(xxhash64(join_keys), B) and each maintenance step prunes BOTH
    view reads (old-multiplicity scan + merge discovery) to the
    churn's buckets at the MANIFEST — the view stays exactly the batch
    recompute through a localized churn ladder, while the pruned read
    opens a strict subset of the view's files and the merge commit's
    remove-set stays strictly under the hit buckets' hive dirs."""
    import os as _os

    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.ivm import join_view_state
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import txlog_join_view_step

    a_root = str(tmp_path / "facts")
    b_root = str(tmp_path / "dim")
    dst_root = str(tmp_path / "view")
    B = 16

    def facts(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k",
            "CAST(id % 50 AS BIGINT) AS j",
            "CAST(id % 3 AS STRING) AS a",
        )

    a = TxLogTable.create(a_root, facts(0, 2000))
    b = TxLogTable.create(
        b_root,
        spark.createDataFrame(
            [(i, f"s{i % 7}") for i in range(50)], "j LONG, b STRING"
        ),
    )

    def expect():
        return sorted(
            map(
                tuple,
                join_view_state(
                    TxLogTable(a_root).read(spark),
                    TxLogTable(b_root).read(spark),
                    ["j"], ["a"], ["b"],
                ).collect(),
            )
        )

    step = lambda: txlog_join_view_step(
        spark, a_root, b_root, ["k"], ["j"], ["j"], ["a"], ["b"],
        dst_root, apply="merge", state_buckets=B,
    )
    # buckets require merge mode
    import pytest as _pytest

    with _pytest.raises(ValueError, match="state_buckets"):
        txlog_join_view_step(
            spark, a_root, b_root, ["k"], ["j"], ["j"], ["a"], ["b"],
            dst_root, apply="overwrite", state_buckets=B,
        )

    assert step() == (0, 0)  # bootstrap: partitioned create
    dst = TxLogTable(dst_root)
    view = dst.read(spark)
    assert "__kb" in view.columns
    got = sorted(
        map(tuple, view.select("j", "a", "b", "n").collect())
    )
    assert got == expect()
    # one hive dir per non-empty bucket
    kbs = {r["__kb"] for r in view.select("__kb").distinct().collect()}
    assert kbs <= set(range(B)) and len(kbs) > 1

    # LOCALIZED churn on two join keys
    a.append(
        spark.range(5000, 5400).selectExpr(
            "id AS k", "CAST(id % 50 AS BIGINT) AS j",
            "CAST(id % 3 AS STRING) AS a",
        ).filter("j IN (7, 23)"),
        spark,
    )
    b.update_where(spark, {"b": "'hot'"}, "j = 7")
    live_before = set(dst.live_files())

    # the pruned read the step performs opens a STRICT SUBSET of the
    # view's files: pin via inputFiles on the same prune spec
    hit_kb = sorted(
        {
            r["__kb"]
            for r in spark.createDataFrame([(7,), (23,)], "j LONG")
            .select(
                F.pmod(F.xxhash64("j"), F.lit(B)).cast("long").alias("__kb")
            )
            .collect()
        }
    )
    pruned_files = set(
        dst.read(spark, prune={"__kb": hit_kb}).inputFiles()
    )
    all_files = set(dst.read(spark).inputFiles())
    assert pruned_files and pruned_files < all_files

    assert step() == (1, 1)
    assert sorted(
        map(
            tuple,
            dst.read(spark).select("j", "a", "b", "n").collect(),
        )
    ) == expect()
    assert step() is None

    # the merge commit's remove-set lives strictly under hit buckets
    rec = dst._read_commit(dst.latest_version())
    assert rec["op"] == "merge"
    removed = set(rec.get("remove", []))
    assert removed, "localized churn must rewrite at least one file"
    for p in removed:
        assert any(f"__kb={kb}{_os.sep}" in p or f"__kb={kb}/" in p for kb in hit_kb), p
    live_rel = {_os.path.relpath(f, dst_root) for f in live_before}
    assert removed < live_rel  # untouched buckets' files survive


def test_txlog_cdf_consumer_step_bucketed_merge_state(spark, tmp_path):
    """apply="merge" + state_buckets on the AGG consumer (round 10):
    each step lands via merge_into(delete_when='n = 0') pruned to the
    churn's key-hash buckets — the state stays equal to
    aggregate_state(source.read()) through an insert/delete/update
    churn ladder, the pruned read opens a strict subset of the state's
    files, and the merge commit's remove-set lives under the hit
    buckets' hive dirs."""
    import os as _os

    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.ivm import aggregate_state
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import txlog_cdf_consumer_step

    src_root = str(tmp_path / "src")
    dst_root = str(tmp_path / "dst")
    B = 16

    def rows(lo, hi, mult=1):
        return spark.range(lo, hi).selectExpr(
            "id AS k",
            "CAST(id % 40 AS BIGINT) AS grp",
            f"CAST(id * {mult} AS DOUBLE) AS x",
        )

    def expect():
        return sorted(
            map(
                tuple,
                aggregate_state(
                    TxLogTable(src_root).read(spark),
                    keys=["grp"],
                    sum_cols=["x"],
                ).collect(),
            )
        )

    src = TxLogTable.create(src_root, rows(0, 4000))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="state_buckets"):
        txlog_cdf_consumer_step(
            spark, src_root, ["k"], ["grp"], ["x"], dst_root,
            apply="overwrite", state_buckets=B,
        )

    step = lambda: txlog_cdf_consumer_step(
        spark, src_root, ["k"], ["grp"], ["x"], dst_root,
        apply="merge", state_buckets=B,
    )
    assert step() == 0  # bootstrap: partitioned create
    dst = TxLogTable(dst_root)
    assert "__kb" in dst.read(spark).columns
    assert sorted(
        map(
            tuple,
            dst.read(spark).select("grp", "n", "sum_x").collect(),
        )
    ) == expect()
    assert step() is None  # caught up

    # localized churn: only grp 7 and 23 rows change
    src.append(
        rows(10000, 10200).filter("grp IN (7, 23)"), spark
    )
    src.delete_where(spark, "grp = 7 AND k < 100")
    live_before = set(dst.live_files())

    hit_kb = sorted(
        {
            r["__kb"]
            for r in spark.createDataFrame([(7,), (23,)], "grp LONG")
            .select(
                F.pmod(F.xxhash64("grp"), F.lit(B)).cast("long").alias("__kb")
            )
            .collect()
        }
    )
    pruned = set(dst.read(spark, prune={"__kb": hit_kb}).inputFiles())
    assert pruned and pruned < set(dst.read(spark).inputFiles())

    assert step() == 2
    assert sorted(
        map(
            tuple,
            dst.read(spark).select("grp", "n", "sum_x").collect(),
        )
    ) == expect()
    assert step() is None

    rec = dst._read_commit(dst.latest_version())
    assert rec["op"] == "merge"
    removed = set(rec.get("remove", []))
    assert removed
    for p in removed:
        assert any(f"__kb={kb}{_os.sep}" in p or f"__kb={kb}/" in p for kb in hit_kb), p
    live_rel = {_os.path.relpath(f, dst_root) for f in live_before}
    assert removed < live_rel


def test_stream_index_refresh_keeps_index_synced(spark, tmp_path):
    """The running index-refresh host: corpus DML landing while the
    ticker runs flows into the at-rest text index; the watermark
    converges to the corpus head and the probe equals a fresh build."""
    import time

    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.search import (
        text_index_build,
        text_index_topk,
    )
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import stream_index_refresh

    corpus_root = str(tmp_path / "corpus")
    root = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [
            (1, "spark hash join over large tables"),
            (2, "sort merge join for sorted inputs"),
            (3, "columnar scan with predicate pushdown"),
        ],
        "doc_id LONG, text STRING",
    )
    corpus = TxLogTable.create(corpus_root, docs)
    text_index_build(corpus.read(spark), root, buckets=8, src_version=0)

    q = stream_index_refresh(
        spark, root, corpus_root,
        checkpoint=str(tmp_path / "ck"), tick_seconds=0.25,
    )
    try:
        corpus.delete_where(spark, "doc_id = 2")
        corpus.append(
            spark.createDataFrame(
                [(4, "hash aggregation with spill to disk")],
                "doc_id LONG, text STRING",
            ),
            spark,
        )
        head = corpus.latest_version()
        t = TxLogTable(root)
        deadline = time.time() + 60
        while time.time() < deadline:
            meta = t.commit_meta(t.latest_version())
            if int(meta.get("idx_src_version", -1)) >= head:
                break
            time.sleep(0.25)
    finally:
        q.stop()

    fresh = str(tmp_path / "fresh")
    text_index_build(corpus.read(spark), fresh, buckets=8)
    qs = [(1, "spark hash"), (2, "sorted merge join")]
    got = sorted(map(tuple, text_index_topk(spark, root, qs).collect()))
    want = sorted(map(tuple, text_index_topk(spark, fresh, qs).collect()))
    assert got == want and len(got) > 0


def test_txlog_join_view_step_reads_through_catalog(spark, tmp_path):
    """Catalog-wired two-source consumer (VERDICT r10 #4): with a
    Catalog pinning both sources, the step advances to the PINNED
    versions — a writer that committed table A but crashed before
    publishing cannot hand the consumer the torn (new A, old B) pair;
    after the atomic publish, one step consumes both moves and the
    view equals the recompute at the pinned heads."""
    from etl_sendas_spark.operators.ivm import join_view_state
    from etl_sendas_spark.sources.txlog import Catalog, TxLogTable
    from etl_sendas_spark.streaming.sessions import txlog_join_view_step

    a_root = str(tmp_path / "facts")
    b_root = str(tmp_path / "dim")
    dst_root = str(tmp_path / "view")

    def facts(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id % 4 AS BIGINT) AS j",
            "CAST(id % 3 AS STRING) AS a",
        )

    def dim(ids, tag):
        return spark.createDataFrame(
            [(int(i), f"{tag}{i}") for i in ids], "j LONG, b STRING"
        )

    a = TxLogTable.create(a_root, facts(0, 30))
    b = TxLogTable.create(b_root, dim(range(4), "s"))
    cat = Catalog(str(tmp_path / "_catalog"))
    cat.publish({"facts": 0, "dim": 0}, expected=-1)

    step = lambda: txlog_join_view_step(
        spark, a_root, b_root, ["k"], ["j"], ["j"], ["a"], ["b"],
        dst_root, catalog=cat, catalog_names=("facts", "dim"),
    )

    def expect(av, bv):
        return sorted(map(tuple, join_view_state(
            a.read(spark, av), b.read(spark, bv), ["j"], ["a"], ["b"],
        ).collect()))

    def got():
        return sorted(map(tuple, TxLogTable(dst_root).read(spark).collect()))

    assert step() == (0, 0)
    assert got() == expect(0, 0)

    # torn write: A moves, catalog NOT published → step must not see it
    a.append(facts(100, 110), spark)
    assert step() is None  # pinned heads unchanged: caught up
    assert got() == expect(0, 0)

    # the writer finishes B and publishes both moves atomically
    b.update_where(spark, {"b": "'moved'"}, "j = 2")
    cat.publish({"facts": 1, "dim": 1}, expected=0)
    assert step() == (1, 1)  # both consumed in ONE step
    assert got() == expect(1, 1)
    assert step() is None

    # missing pin fails loudly instead of silently reading a head
    import pytest as _pytest
    with _pytest.raises(KeyError, match="no pins"):
        txlog_join_view_step(
            spark, a_root, b_root, ["k"], ["j"], ["j"], ["a"], ["b"],
            dst_root, catalog=cat, catalog_names=("facts", "nope"),
        )


def test_txlog_sink_respects_check_constraints(spark, tmp_path):
    """Composition pin (round 12): the exactly-once streaming MERGE
    sink writes through the same _write_data boundary as batch DML, so
    a CHECK constraint on the target table makes a violating
    micro-batch FAIL THE STREAM loudly and commit NOTHING — the table
    stays at its pre-batch version with only valid rows (the Delta
    behavior: constraints gate every writer, streaming included)."""
    import datetime as dt
    import os

    import pytest

    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.streaming.sessions import stream_upsert_to_txlog

    src = str(tmp_path / "src")
    os.makedirs(src)
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    sch = "k long, v long, ts timestamp"
    _land_file(spark, src, "f1.parquet", [(1, 10, t(0)), (2, 20, t(1))], sch, 1000)

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    table_path, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*.parquet"))
        )
        stream_upsert_to_txlog(
            stream, table_path, ckpt, keys=["k"], seq_col="ts"
        )

    run_once()  # batch 0 creates the table with valid rows
    table = TxLogTable(table_path)
    table.add_constraint(spark, "v_nonneg", "v >= 0")
    head = table.latest_version()

    _land_file(spark, src, "f2.parquet", [(3, -5, t(10))], sch, 2000)
    with pytest.raises(Exception, match="v_nonneg"):
        run_once()  # violating micro-batch fails the stream
    assert table.latest_version() == head  # nothing committed
    assert table.read(spark).filter("v < 0").count() == 0

    # fixing the data lets the stream resume from the checkpoint
    import shutil

    shutil.rmtree(os.path.join(src, "f2.parquet"))
    _land_file(spark, src, "f3.parquet", [(3, 5, t(20))], sch, 3000)
    run_once()
    assert table.read(spark).filter("k = 3").collect()[0]["v"] == 5
