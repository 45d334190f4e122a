"""Native Spark DataSource for the txlog format
(sources/txlog_source.py): batch parity with TxLogTable.read,
version-offset streaming with exactly-once across checkpointed
restarts, append-only enforcement, schema-evolution padding, and the
partitioned-table plan-time rejection."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_sendas_spark.sources.txlog import TxLogTable
from etl_sendas_spark.sources.txlog_source import register_txlog_source


def _rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k", "CAST(id * 2 AS DOUBLE) AS x", "CAST(id AS STRING) AS s"
    )


def _drain(spark, root, ck, out):
    """availableNow drain into a json file sink (checkpoint-recoverable,
    unlike the memory sink); returns the CUMULATIVE output rows — under
    exactly-once they equal the appended history with no duplicates."""
    q = (
        spark.readStream.format("txlog")
        .load(root)
        .writeStream.format("json")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    df = spark.read.schema("k long, x double, s string").json(out)
    return sorted(map(tuple, df.collect()))


def test_batch_read_parity_and_schema_evolution(spark, tmp_path):
    register_txlog_source(spark)
    root = str(tmp_path / "t")
    t = TxLogTable.create(root, _rows(spark, 0, 60).repartition(3))
    # evolved append: older files' missing column pads NULL per batch
    t.append(
        _rows(spark, 60, 80).withColumn("tag", F.lit("new")),
        spark,
        merge_schema=True,
    )
    b = spark.read.format("txlog").load(root)
    exp = sorted(map(tuple, t.read(spark).select(*b.columns).collect()))
    assert sorted(map(tuple, b.collect())) == exp
    assert b.filter("tag IS NULL").count() == 60
    assert b.filter("tag = 'new'").count() == 20


def test_stream_versions_are_offsets_exactly_once(spark, tmp_path):
    register_txlog_source(spark)
    root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    t = TxLogTable.create(root, _rows(spark, 0, 50).repartition(2))

    out = str(tmp_path / "out")
    got = _drain(spark, root, ck, out)
    assert got == sorted(map(tuple, t.read(spark).collect()))

    # two more commits; the SAME checkpoint resumes from version 0 —
    # cumulative output equals the full history, so any snapshot
    # replay (duplicates) breaks the equality
    t.append(_rows(spark, 50, 70), spark)
    t.append(_rows(spark, 70, 90), spark)
    got2 = _drain(spark, root, ck, out)
    assert got2 == sorted(map(tuple, _rows(spark, 0, 90).collect()))

    # caught up: a further drain adds nothing
    assert _drain(spark, root, ck, out) == got2

    # startingVersion: a fresh consumer may skip history
    v3 = t.append(_rows(spark, 90, 95), spark)
    fresh = (
        spark.readStream.format("txlog")
        .option("startingVersion", v3)
        .load(root)
        .writeStream.format("memory")
        .queryName("ms4")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    fresh.awaitTermination(120)
    got4 = sorted(map(tuple, spark.sql("SELECT * FROM ms4").collect()))
    assert got4 == sorted(map(tuple, _rows(spark, 90, 95).collect()))


def test_stream_rejects_non_append_commits(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    register_txlog_source(spark)
    root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    t = TxLogTable.create(root, _rows(spark, 0, 20).repartition(4))
    _drain(spark, root, ck, str(tmp_path / "out"))
    t.compact(spark, target_files=1)  # layout change carries a remove-set
    q = (
        spark.readStream.format("txlog")
        .load(root)
        .writeStream.format("json")
        .option("path", str(tmp_path / "out2"))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="append-only"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed on the compact")


def test_partitioned_table_reads_and_streams(spark, tmp_path):
    """Partitioned tables through the source: path-borne partition
    columns come back as typed constant Arrow columns, batch parity
    with the library read, and the streaming drain carries them too."""
    register_txlog_source(spark)
    root = str(tmp_path / "t")
    t = TxLogTable.create(
        root,
        spark.range(0, 40).selectExpr(
            "id AS k", "CAST(id % 4 AS INT) AS p", "id * 1.0 AS x"
        ),
        partition_by=["p"],
    )
    t.append(
        spark.range(40, 60).selectExpr(
            "id AS k", "CAST(id % 4 AS INT) AS p", "id * 1.0 AS x"
        ),
        spark,
    )
    b = spark.read.format("txlog").load(root)
    # inferred type for int-valued path segments is bigint
    assert dict(b.dtypes)["p"] == "bigint"
    exp = sorted(
        (r["k"], int(r["p"]), r["x"]) for r in t.read(spark).collect()
    )
    got = sorted((r["k"], int(r["p"]), r["x"]) for r in b.collect())
    assert got == exp

    q = (
        spark.readStream.format("txlog")
        .load(root)
        .writeStream.format("json")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sdf = spark.read.schema("k long, x double, p long").json(
        str(tmp_path / "out")
    )
    got_s = sorted((r["k"], int(r["p"]), r["x"]) for r in sdf.collect())
    assert got_s == exp


def test_batch_filter_pushdown_prunes_files(spark, tmp_path):
    """Catalyst filter pushdown reaches the manifest: a range filter
    over a format("txlog") scan must plan FEWER input partitions (one
    per surviving file) than the unfiltered scan, with results equal
    to filter-after-full-read; IN-lists and partition columns prune
    too; every filter is still row-applied (no over-delivery)."""
    register_txlog_source(spark)

    # zone-mapped table, range-clustered so file stats are tight
    root = str(tmp_path / "t")
    t = TxLogTable.create(
        root,
        spark.range(0, 8000)
        .selectExpr("id AS k", "id * 2 AS x")
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k"),
        stat_cols=["k"],
    )
    base = spark.read.format("txlog").load(root)
    full_rows = sorted(map(tuple, base.collect()))
    filtered = (
        spark.read.format("txlog")
        .option("manifestPruning", "true")  # single-use scan: opt in
        .load(root)
        .filter("k BETWEEN 1000 AND 1999")
    )
    assert len(filtered.inputFiles()) == 0  # python source: no files API
    got = sorted(map(tuple, filtered.collect()))
    assert got == [r for r in full_rows if 1000 <= r[0] <= 1999]
    # partition counts come from the physical plan's scan RDD
    def n_parts(df):
        return df._jdf.rdd().getNumPartitions()

    assert n_parts(filtered) < n_parts(base)

    # IN-list over a partitioned table prunes to the named partitions
    root2 = str(tmp_path / "tp")
    TxLogTable.create(
        root2,
        spark.range(0, 400).selectExpr(
            "id AS k", "CAST(id % 8 AS INT) AS p"
        ),
        partition_by=["p"],
    )
    full2 = spark.read.format("txlog").load(root2)
    sel = (
        spark.read.format("txlog")
        .option("manifestPruning", "true")
        .load(root2)
        .filter("p IN (2, 5)")
    )
    assert n_parts(sel) < n_parts(full2)
    assert {r["p"] for r in sel.collect()} == {2, 5}
    assert sel.count() == 100


def test_batch_writer_two_phase_commit(spark, tmp_path):
    """df.write.format("txlog"): executors stage one parquet file per
    task, the driver commits the list atomically — create with
    statCols zone maps, append parity, and type-drift rejection."""
    register_txlog_source(spark)
    root = str(tmp_path / "t")
    spark.range(0, 100).selectExpr(
        "id AS k", "CAST(id * 2.0 AS DOUBLE) AS x"
    ).repartition(3).write.format("txlog").mode("append").option(
        "statCols", "k"
    ).save(root)
    t = TxLogTable(root)
    assert t.versions() == [0] and t.commit_meta(0)["op"] == "create"
    assert t._stat_cols() == ["k"]

    spark.range(100, 150).selectExpr(
        "id AS k", "CAST(id * 2.0 AS DOUBLE) AS x"
    ).write.format("txlog").mode("append").save(root)
    assert t.versions() == [0, 1]
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(150))
    # the writer harvested zone maps: manifest pruning works
    pr = t.read(spark, prune={"k": (0, 10)})
    assert len(pr.inputFiles()) < len(t.read(spark).inputFiles())
    # round trip through the source's own reader
    assert spark.read.format("txlog").load(root).count() == 150

    # same-name type drift fails at write planning, not at later reads
    with pytest.raises(Exception, match="schema mismatch"):
        spark.range(3).selectExpr(
            "id AS k", "CAST(id AS STRING) AS x"
        ).write.format("txlog").mode("append").save(root)
    # overwrite mode is rejected (append-only writer)
    with pytest.raises(Exception, match="append-only"):
        spark.range(3).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS x"
        ).write.format("txlog").mode("overwrite").save(root)


def test_stream_writer_exactly_once_epochs(spark, tmp_path):
    """writeStream.format("txlog"): each epoch is ONE commit carrying
    its batch id; a replayed epoch is skipped (no duplicate version,
    no double rows); two waves on one checkpoint land as ordered
    appends."""
    import os as _os

    register_txlog_source(spark)
    root = str(tmp_path / "t")
    src_dir = str(tmp_path / "in")
    _os.makedirs(src_dir)
    spark.range(0, 30).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS x"
    ).coalesce(1).write.mode("append").json(src_dir)

    def drain():
        q = (
            spark.readStream.schema("k long, x double")
            .json(src_dir)
            .writeStream.format("txlog")
            .option("path", root)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    t = TxLogTable(root)
    assert t.read(spark).count() == 30
    assert t.commit_meta(t.latest_version())["batch_id"] == 0

    spark.range(30, 50).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS x"
    ).coalesce(1).write.mode("append").json(src_dir)
    drain()
    assert sorted(r["k"] for r in t.read(spark).collect()) == list(range(50))
    # a directly-replayed epoch commit is a no-op (exactly-once)
    from etl_sendas_spark.sources.txlog_source import (
        _FilesCommitMessage,
        _TxLogStreamWriter,
    )

    w = _TxLogStreamWriter(
        {"path": root}, t.read(spark).schema, overwrite=False
    )
    head = t.latest_version()
    w.commit([_FilesCommitMessage([])], batchId=0)  # stale epoch
    assert t.latest_version() == head
    # caught-up drain adds nothing either
    drain()
    assert t.read(spark).count() == 50


def test_stream_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """maxFilesPerTrigger: a backfill over many commits ships in
    several bounded micro-batches (whole commits, ≥1 per batch)
    instead of one giant snapshot batch — complete and exactly-once
    either way."""
    import os as _os

    register_txlog_source(spark)
    root = str(tmp_path / "t")
    t = TxLogTable.create(
        root, _mk := spark.range(0, 20).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS x"
        ).repartition(2)
    )
    for i in range(1, 5):
        t.append(
            spark.range(i * 20, i * 20 + 20).selectExpr(
                "id AS k", "CAST(id AS DOUBLE) AS x"
            ).repartition(2),
            spark,
        )
    # 5 commits x 2 files; cap at 2 files/trigger -> >= 5 micro-batches
    # (processingTime trigger: the cap is per TRIGGER — availableNow
    # snapshots latestOffset once and would stop after one bounded
    # batch, documented in the source)
    import time as _time

    ck = str(tmp_path / "ck")
    q = (
        spark.readStream.format("txlog")
        .option("maxFilesPerTrigger", 2)
        .load(root)
        .writeStream.format("json")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", ck)
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        out_schema = "k long, x double"
        while _time.time() < deadline:
            got = spark.read.schema(out_schema).json(str(tmp_path / "out"))
            if got.count() >= 100:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    got = spark.read.schema("k long, x double").json(str(tmp_path / "out"))
    assert sorted(r["k"] for r in got.collect()) == list(range(100))
    n_batches = len(_os.listdir(_os.path.join(ck, "offsets")))
    assert n_batches >= 5, f"expected bounded batches, got {n_batches}"


def test_stream_max_files_per_trigger_restart_no_rewind(spark, tmp_path):
    """Restart WITH the cap (ADVICE r8 high): a fresh process's
    in-memory pacing cursor restarts at starting-1 — behind the
    checkpointed end — so capped pacing must recover the real position
    or the stream could hand the engine non-advancing/rewound offsets.
    The fix persists the cursor on commit() (durable, under
    _txlog/rate_limit/) and resumes pacing from it. NOTE: Spark 4.1.2
    additionally replays the offsets log's last entry through
    partitions() before the first post-restart latestOffset(), which
    masks the stale cursor on this engine version — this test pins the
    exactly-once-across-capped-restart CONTRACT (and the cursor keeps
    it independent of that engine internal). Cumulative output across
    the restart must equal the appended history exactly."""
    import time as _time

    register_txlog_source(spark)
    root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def mk(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS x"
        ).repartition(2)

    t = TxLogTable.create(root, mk(0, 20))
    for i in range(1, 3):
        t.append(mk(i * 20, i * 20 + 20), spark)

    def run_until(n):
        q = (
            spark.readStream.format("txlog")
            .option("maxFilesPerTrigger", 2)
            .load(root)
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        try:
            deadline = _time.time() + 120
            while _time.time() < deadline:
                if (
                    spark.read.schema("k long, x double").json(out).count()
                    >= n
                ):
                    break
                _time.sleep(0.5)
            # one extra tick so the final batch's commit lands before
            # the stop — the restart then starts with NO replayed
            # batch, the exact path where the rewind bug lived
            _time.sleep(1.0)
        finally:
            q.stop()

    run_until(60)  # drain the 3-commit backfill in capped batches

    # new commits, then a RESTART in a fresh reader process
    for i in range(3, 5):
        t.append(mk(i * 20, i * 20 + 20), spark)
    run_until(100)

    got = spark.read.schema("k long, x double").json(out)
    assert sorted(r["k"] for r in got.collect()) == list(range(100)), (
        "duplicate or missing rows across a capped restart"
    )


def test_schema_from_log_survives_reordering_vacuum_and_legacy(
    spark, tmp_path
):
    """Schema resolution (ADVICE r8 medium): the commit log records the
    table schema (create / merge-schema append / overwrite), so
    format("txlog") reads resolve it in O(1) metadata even when (a) a
    DML rewrite parks the only wide file mid-list — first/last-footer
    sampling would silently drop the evolved column — and (b) VACUUM
    truncates the schema-bearing commit (checkpoints snapshot it).
    Tables whose surviving log never recorded a schema fall back to a
    union over ALL live files' footers; an empty schemaless table
    fails with a clear error instead of an IndexError."""
    import json as _json

    register_txlog_source(spark)
    root = str(tmp_path / "t")
    t = TxLogTable.create(root, _rows(spark, 0, 30).repartition(2))
    t.append(
        _rows(spark, 30, 40).withColumn("tag", F.lit("new")),
        spark,
        merge_schema=True,
    )
    # CoW delete of a row in a PRE-evolution narrow file: the rewrite
    # scans only that file, which lacks `tag` — _scan must NULL-pad to
    # the logged schema or the table-schema projection fails to
    # resolve (found by this test's first draft)
    t.delete_where(spark, "k = 3")
    b = spark.read.format("txlog").load(root)
    assert "tag" in b.columns
    assert b.filter("tag = 'new'").count() == 10
    assert b.count() == 39 and b.filter("k = 3").count() == 0

    # vacuum truncates the log below the cutoff; the checkpoint written
    # at the cutoff carries the schema record forward
    for i in range(4, 8):
        t.append(
            _rows(spark, i * 10, i * 10 + 5).withColumn(
                "tag", F.lit(f"b{i}")
            ),
            spark,
        )
    t.vacuum(retain_versions=2, min_age_s=0.0)
    assert t._logged_schema() is not None
    assert "tag" in spark.read.format("txlog").load(root).columns

    # legacy table (no schema record anywhere): hand-build the
    # pathological live list — narrow, WIDE, narrow — via the public
    # two-phase commit_files API, then strip the schema records. The
    # reader must union ALL live footers; first/last-file sampling
    # (the pre-fix code) would silently drop the mid-list column.
    import glob as _glob

    root_l = str(tmp_path / "legacy")
    os.makedirs(f"{root_l}/data/m")
    narrow1 = _rows(spark, 0, 5).toPandas()
    wide = (
        _rows(spark, 5, 10).withColumn("tag", F.lit("w")).toPandas()
    )
    narrow2 = _rows(spark, 10, 15).toPandas()
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    for name, pdf in [("a", narrow1), ("b", wide), ("c", narrow2)]:
        _pq.write_table(
            _pa.Table.from_pandas(pdf, preserve_index=False),
            f"{root_l}/data/m/{name}.parquet",
        )
    tl = TxLogTable(root_l)
    tl.commit_files(
        [f"data/m/{n}.parquet" for n in ("a", "b", "c")], op="create",
        extra={"stat_cols": []},
    )
    for f in _glob.glob(f"{root_l}/_txlog/*.json"):
        meta = _json.load(open(f))
        meta.pop("schema", None)
        _json.dump(meta, open(f, "w"))
    assert tl._logged_schema() is None
    lb = spark.read.format("txlog").load(root_l)
    assert "tag" in lb.columns, "fallback must union ALL live footers"
    assert lb.filter("tag = 'w'").count() == 5 and lb.count() == 15

    # empty schemaless table: clear error, not IndexError
    root2 = str(tmp_path / "empty")
    os.makedirs(f"{root2}/_txlog")
    _json.dump(
        {"version": 0, "ts": 0.0, "op": "create", "add": [],
         "stat_cols": []},
        open(f"{root2}/_txlog/00000000.json", "w"),
    )
    with pytest.raises(Exception, match="no live data files"):
        spark.read.format("txlog").load(root2).collect()

    # empty table WITH a schema record (e.g. a zero-row DataSource
    # write) reads as an empty frame with the right columns
    root3 = str(tmp_path / "empty_ok")
    _rows(spark, 0, 0).write.format("txlog").mode("append").save(root3)
    e = spark.read.format("txlog").load(root3)
    assert e.columns == ["k", "x", "s"] and e.count() == 0


def test_dv_through_native_source(spark, tmp_path):
    """Deletion vectors through format("txlog"): the batch reader
    drops vectored physical rows executor-side while streaming Arrow
    batches (parity with TxLogTable.read), and the streaming reader
    fails loudly on a vector commit (append-only contract, same as
    removes)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    register_txlog_source(spark)
    root = str(tmp_path / "t")
    t = TxLogTable.create(root, _rows(spark, 0, 80).repartition(4))

    # stream consumes the clean prefix first
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("txlog").load(root)
        .writeStream.format("json").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)

    t.delete_where(spark, "k % 4 = 1", mode="dv")
    b = spark.read.format("txlog").load(root)
    assert sorted(r["k"] for r in b.collect()) == sorted(
        r["k"] for r in t.read(spark).collect()
    )
    assert b.count() == 60 and b.filter("k % 4 = 1").count() == 0

    # pushdown prune still composes with vectors
    assert spark.read.format("txlog").load(root).filter("k = 1").count() == 0
    assert spark.read.format("txlog").load(root).filter("k = 2").count() == 1

    # the stream must now fail loudly at the vector commit
    q2 = (
        spark.readStream.format("txlog").load(root)
        .writeStream.format("json").option("path", str(tmp_path / "out2"))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    with pytest.raises(StreamingQueryException, match="append-only"):
        q2.awaitTermination(120)
        raise AssertionError("stream should have failed on the dv commit")


def test_stream_read_change_feed_drives_ivm_through_restart(
    spark, tmp_path
):
    """option('readChangeFeed','true') (VERDICT r8 #5): DML-mutated
    tables stream through the ENGINE's checkpoints as per-commit I/D
    rows — file-level diff of (live files, deletion vectors), compact
    emits nothing (content-preserving), CoW rewrites emit
    self-cancelling D+I pairs for survivors. Folding the feed through
    incremental_agg_update across TWO checkpointed drains (a restart
    between them) must reproduce the batch aggregate of the final
    snapshot exactly."""
    from etl_sendas_spark.operators.ivm import (
        aggregate_state,
        incremental_agg_update,
    )

    register_txlog_source(spark)
    root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    feed_dir = str(tmp_path / "feed")

    def mk(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id % 5 AS STRING) AS g",
            "CAST(id AS DOUBLE) AS x",
        )

    t = TxLogTable.create(root, mk(0, 100).repartition(4))
    t.append(mk(100, 150).repartition(2), spark)

    def drain():
        q = (
            spark.readStream.format("txlog")
            .option("readChangeFeed", "true")
            .load(root)
            .writeStream.format("json")
            .option("path", feed_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()  # first run: create + append arrive as pure I

    # DML between the two runs — the restart resumes from the engine
    # checkpoint and must deliver exactly the new commits' changes
    t.delete_where(spark, "k % 10 = 3", mode="dv")        # vector D rows
    t.update_where(spark, {"x": "x + 1000"}, "k = 20")    # CoW D+I
    src = mk(150, 160)
    t.merge_into(spark, src, keys=["k"])                  # inserts
    t.compact(spark, target_files=2)                      # emits NOTHING
    t.delete_where(spark, "k = 7", mode="cow")            # post-compact CoW
    drain()  # second run through the SAME checkpoint

    feed_schema = (
        "k long, g string, x double, _change_type string, "
        "_commit_version long"
    )
    feed = spark.read.schema(feed_schema).json(feed_dir)
    assert feed.count() > 0
    # compact contributed no rows
    compact_v = next(
        v for v in t.versions() if t.commit_meta(v).get("op") == "compact"
    )
    assert feed.filter(f"_commit_version = {compact_v}").count() == 0
    # the dv delete arrived as pure D rows at its version
    dv_v = next(
        v for v in t.versions() if "dv" in t.commit_meta(v)
    )
    dvf = feed.filter(f"_commit_version = {dv_v}")
    assert dvf.count() == 15 and dvf.filter("_change_type != 'D'").count() == 0

    # fold the whole feed as one IVM update over an empty state: the
    # result must equal the batch aggregate of the final snapshot
    empty = aggregate_state(
        spark.createDataFrame([], "k long, g string, x double"),
        keys=["g"], sum_cols=["x"],
    )
    changes = feed.withColumnRenamed("_change_type", "op").select(
        "k", "g", "x", "op"
    )
    state = incremental_agg_update(empty, changes, keys=["g"], sum_cols=["x"])
    batch = aggregate_state(t.read(spark), keys=["g"], sum_cols=["x"])
    got = sorted(map(tuple, state.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


def test_transform_partitioned_table_schema_stays_hidden(spark, tmp_path):
    """ADVICE r10 (medium): the native format('txlog') reader appended
    EVERY manifest partition column to the read schema, including
    hidden transform-derived ones (ts_day) — breaking the
    hidden-partitioning contract TxLogTable.read() enforces, so the
    two paths returned different schemas for the same table. Derived
    names are now filtered out; batch parity holds row-for-row."""
    register_txlog_source(spark)
    root = str(tmp_path / "thp")
    ev = spark.createDataFrame(
        [
            (i, f"2024-01-{(i % 5) + 1:02d} 08:30:00", i % 7, float(i))
            for i in range(200)
        ],
        "event_id LONG, ts STRING, user_id LONG, value DOUBLE",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "value"
    )
    t = TxLogTable.create(
        root, ev, partition_by=["day(ts)", "bucket(4, user_id)"]
    )
    lib = t.read(spark)
    b = spark.read.format("txlog").load(root)
    assert sorted(b.columns) == sorted(lib.columns)
    assert "ts_day" not in b.columns and "user_id_bucket" not in b.columns
    exp = sorted(
        (r["event_id"], r["user_id"], r["value"]) for r in lib.collect()
    )
    got = sorted(
        (r["event_id"], r["user_id"], r["value"]) for r in b.collect()
    )
    assert got == exp


def test_register_from_many_threads_on_one_session(spark, tmp_path):
    """register_txlog_source is safe to call from 8 threads at once on
    one session (a fresh one, so the source is not registered yet):
    every call returns, and format("txlog") then reads the table."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    session = spark.newSession()
    root = str(tmp_path / "t")
    t = TxLogTable.create(root, _rows(spark, 0, 30))
    start = threading.Barrier(8)

    def register(_):
        start.wait()
        register_txlog_source(session)

    with ThreadPoolExecutor(8) as pool:
        list(pool.map(register, range(8)))
    got = session.read.format("txlog").load(root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, t.read(session).collect())
    )
