"""The three benchmark workloads.

Each takes a :class:`Ctx`, runs one untimed warm-up op (part of
set-up), then measured ops for ``ctx.seconds``, checking every op's
output against the oracle. The next op starts only while the ops so far
say it will end within ``ctx.seconds`` (always at least one), so a run
holds the same number of ops on every commit of similar speed.

A workload returns a dict with ``warmup_s``, ``ops`` (per-op seconds),
``attempted``, ``failed``, ``rows_per_s``, ``extra`` (workload-specific
end-to-end figures) and, in a traced run, ``traced_ops`` plus what its
``*_layers`` function needs to build the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from datetime import datetime

from . import gen, oracles, steal, trace
from .helper import Helper

MB = 1024 * 1024


@dataclass
class Ctx:
    spark: object
    helper: Helper  # runs generation, oracles and output checks
    seed: int
    seconds: float
    traced: bool
    work: str
    inputs: str
    spans: trace.Spans | None = None  # traced runs only
    tagger: trace.ModuleTagger | None = None  # traced runs only


_timed = steal.timed  # every span's seconds exclude stolen CPU time


def _more(t0: float, seconds: float, plain: list, traced: list, is_traced: bool) -> bool:
    """Start another op? Yes while it should end within ``seconds``; a
    traced run also needs a traced op between two plain ones: op time
    drifts from one op to the next (the JIT still warms, a corpus grows),
    and the plain ops on either side cancel that drift from the tracing
    overhead."""
    if is_traced and (len(plain) < 2 or not traced):
        return True
    done = plain + traced
    return not done or time.perf_counter() - t0 + statistics.median(done) <= seconds


def _release_pins(spark) -> None:
    """Free every persisted RDD (the engine's stage pins) between ops,
    so memory does not grow with the number of ops a run fits."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


def _stored_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _span_totals(ctx: Ctx, folded: dict, name: str | None = None) -> dict:
    """Event-log totals of the spans called ``name`` (all spans: None)."""
    ids = {s["id"] for s in ctx.spans.spans if name is None or s["name"] == name}
    return trace.groups_total(folded, ids)


# --------------------------------------------------------------------------
# audit_month
# --------------------------------------------------------------------------

def _audit_op(spark, sf_dir: str, out_dir: str) -> None:
    from etl_sendas_spark.plans.capital_sendas import run_pipeline
    from etl_sendas_spark.plans.sendas_driver_query import MES, sendas_inputs
    from etl_sendas_spark.sources.sinks import write_csv

    out, chk = run_pipeline(*sendas_inputs(spark, sf_dir), mes=MES, parse_dates=False)
    write_csv(out, os.path.join(out_dir, "capital_sendas"))
    write_csv(chk, os.path.join(out_dir, "comprobar"))


def _audit_traced_op(ctx: Ctx, sf_dir: str, out_dir: str, op: int) -> float:
    """``run_pipeline``'s stages replayed in its order, each forced with
    an action (a local checkpoint) under its own span, so a span's time
    is its own stage's work. Returns the MB the two stage pins hold."""
    from etl_sendas_spark.materialize import materialize
    from etl_sendas_spark.plans import capital_sendas as cs
    from etl_sendas_spark.plans.sendas_driver_query import MES, sendas_inputs
    from etl_sendas_spark.sources.readers import ROW_ID, with_row_id
    from etl_sendas_spark.sources.sinks import write_csv

    spark, sp = ctx.spark, ctx.spans

    def force(df):
        return df.localCheckpoint(eager=True)

    with sp.span("plans.sendas_driver_query.sendas_inputs", op):
        fact, codigos, tipologia, anexos, bases = sendas_inputs(spark, sf_dir)
        fact = force(fact)
    with sp.span("plans.capital_sendas.ingest_parse", op):
        fact = cs.parse_and_filter_month(cs.ingest_filters(fact), MES, parse_dates=False)
        if ROW_ID not in fact.columns:
            fact = with_row_id(fact)
        fact = force(fact)
    pinned = 0.0
    for stage in ("fact_stage", "enriched_stage"):
        if stage == "enriched_stage":
            with sp.span("plans.capital_sendas.enrich", op):
                fact = force(cs.enrich(fact, codigos, tipologia, anexos, bases))
        before = _stored_mb(spark)
        with sp.span("materialize", op):
            fact = materialize(fact, name=stage)
        pinned += _stored_mb(spark) - before
    with sp.span("plans.capital_sendas.apply_rules", op):
        ruled = force(cs.apply_rules(fact))
    with sp.span("plans.capital_sendas.finalize", op):
        out = force(cs.finalize(ruled))
    with sp.span("plans.capital_sendas.comprobar", op):
        chk = force(cs.comprobar(ruled))
    with sp.span("sources.sinks", op):
        write_csv(out, os.path.join(out_dir, "capital_sendas"))
        write_csv(chk, os.path.join(out_dir, "comprobar"))
    return pinned


def audit_month(ctx: Ctx) -> dict:
    info = ctx.helper.call(gen.gen_audit, ctx.seed, ctx.inputs)
    oracle = ctx.helper.call(oracles.audit_oracle, ctx.inputs)
    spark = ctx.spark
    n_out = 0

    digests = {"plain": set(), "traced": set()}

    def one(traced_op: int | None) -> tuple[float, bool, float, int]:
        nonlocal n_out
        n_out += 1
        d = os.path.join(ctx.work, f"audit-out-{n_out}")
        if traced_op is None:
            dt, pinned = _timed(lambda: _audit_op(spark, ctx.inputs, d))
        else:
            dt, pinned = _timed(lambda: _audit_traced_op(ctx, ctx.inputs, d, traced_op))
        files = sum(f.startswith("part-") for _, _, fs in os.walk(d) for f in fs)
        ok, digest = ctx.helper.call(oracles.audit_check, d, oracle)
        digests["plain" if traced_op is None else "traced"].add(digest)
        shutil.rmtree(d, ignore_errors=True)
        _release_pins(spark)
        return dt, ok, pinned, files

    warm, ok, _, _ = one(None)
    attempted, failed = 1, 0 if ok else 1
    plain, traced, pins, files = [], [], [], []
    t0 = time.perf_counter()
    while _more(t0, ctx.seconds, plain, traced, ctx.traced):
        is_traced = ctx.traced and len(traced) < len(plain)
        dt, ok, pinned, n_files = one(len(traced) if is_traced else None)
        if is_traced:
            traced.append(dt)
            pins.append(pinned)
            files.append(n_files)
        else:
            plain.append(dt)
        attempted += 1
        failed += 0 if ok else 1
    res = {
        "warmup_s": warm,
        "ops": plain,
        "attempted": attempted,
        "failed": failed,
        "rows_per_s": info["lineitem_rows"] * len(plain) / sum(plain),
        "extra": {"lineitem_rows": (info["lineitem_rows"], "count")},
    }
    if ctx.traced:
        res["traced_ops"] = traced
        res["pinned_mb"] = statistics.median(pins)
        res["sink_files"] = statistics.median(files)
        # the stage replay must reproduce the untraced output exactly
        res["extra"]["replay_hash_equal"] = (float(digests["traced"] == digests["plain"]), "bool")
    return res


def audit_layers(ctx: Ctx, folded: dict, res: dict) -> dict:
    sp = ctx.spans
    n = len(res["traced_ops"])
    rules = _span_totals(ctx, folded, "plans.capital_sendas.apply_rules")
    comp = _span_totals(ctx, folded, "plans.capital_sendas.comprobar")
    sinks = _span_totals(ctx, folded, "sources.sinks")
    mk_rows, mk_mb = trace.python_metrics(rules, "MapInPandas")
    st_rows, _ = trace.python_metrics(comp, "ArrowEvalPython")
    return {
        "plans.sendas_driver_query.sendas_inputs.self_s": sp.self_s("plans.sendas_driver_query.sendas_inputs"),
        "materialize.self_s": sp.self_s("materialize"),
        "materialize.pinned_mb": res["pinned_mb"],
        "plans.capital_sendas.enrich.self_s": sp.self_s("plans.capital_sendas.enrich"),
        "plans.capital_sendas.apply_rules.self_s": sp.self_s("plans.capital_sendas.apply_rules"),
        "plans.capital_sendas.apply_rules.shuffle_write_mb": rules.get("shuffle_write_mb", 0.0) / n,
        "plans.capital_sendas.apply_rules.spill_mb": rules.get("spill_mb", 0.0) / n,
        "operators.marking.python_rows": mk_rows / n,
        "operators.marking.python_mb": mk_mb / n,
        "functions.strings.python_rows": st_rows / n,
        "sources.sinks.self_s": sp.self_s("sources.sinks"),
        "sources.sinks.output_mb": sinks.get("output_mb", 0.0) / n,
        "sources.sinks.files": res["sink_files"],
        **trace.engine_wide(_span_totals(ctx, folded), n),
    }


# --------------------------------------------------------------------------
# corpus_refresh
# --------------------------------------------------------------------------

def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def corpus_refresh(ctx: Ctx) -> dict:
    from etl_sendas_spark.functions.text import doc_fingerprint
    from etl_sendas_spark.plans.corpus_refresh import corpus_refresh_step, corpus_snapshot
    from etl_sendas_spark.sources.txlog import Catalog, TxLogTable

    info = ctx.helper.call(gen.gen_corpus, ctx.seed, ctx.inputs)
    labels = info["labels"]
    spark, sp = ctx.spark, ctx.spans
    waves = [os.path.join(ctx.inputs, f"wave-{w:03d}.parquet") for w in range(len(labels))]
    root = os.path.join(ctx.work, "corpus")

    def wave_op(w: int, traced_op: int | None) -> tuple[bool, dict]:
        df = spark.read.parquet(waves[w]).select("doc_id", "text")
        if traced_op is None:
            summary = corpus_refresh_step(spark, root, df, f"wave-{w}")
            snap, rec = corpus_snapshot(spark, root)
            n = snap.count()
        else:
            ctx.tagger.install()
            try:
                with sp.span("plans.corpus_refresh.corpus_refresh_step", traced_op):
                    summary = corpus_refresh_step(spark, root, df, f"wave-{w}")
                with sp.span("plans.corpus_refresh.corpus_snapshot", traced_op):
                    snap, rec = corpus_snapshot(spark, root)
                    n = snap.count()
            finally:
                ctx.tagger.uninstall()
        want = labels[w]
        ok = (
            summary["wave_rows"] == sum(want.values())
            and summary["rejected_quality"] == want["quality"]
            and summary["rejected_exact"] == want["exact"]
            and summary["rejected_near"] == want["near"]
            and summary["accepted"] == want["fresh"]
            and summary["manifest_version"] == w
            and rec.get("wave_id") == f"wave-{w}"
            and n == sum(lab["fresh"] for lab in labels[: w + 1])
        )
        return ok, summary

    # wave 0 lands on an empty root: the untimed warm-up op
    warm, (ok, _) = _timed(lambda: wave_op(0, None))
    attempted, failed = 1, 0 if ok else 1
    plain, traced, rows = [], [], 0
    gate = {"wave_rows": 0, "rejected_quality": 0}  # the quality gate's outcome
    t0, w = time.perf_counter(), 1
    while w < len(waves) and _more(t0, ctx.seconds, plain, traced, ctx.traced):
        is_traced = ctx.traced and len(traced) < len(plain)
        dt, (ok, summary) = _timed(lambda: wave_op(w, len(traced) if is_traced else None))
        for k in gate:
            gate[k] += summary[k]
        if is_traced:
            traced.append(dt)
        else:
            plain.append(dt)
            rows += summary["wave_rows"]
        attempted += 1
        failed += 0 if ok else 1
        w += 1
    # end-of-run checks: fingerprints unique, one manifest record per wave
    snap, _ = corpus_snapshot(spark, root)
    if (snap.select(doc_fingerprint("text")).distinct().count() != snap.count()
            or len(Catalog(os.path.join(root, "_manifest")).versions()) != w):
        failed += 1
    tables = [TxLogTable(os.path.join(root, t)) for t in ("docs", "fps", "mh")]
    commits = sum(len(t.versions()) for t in tables)
    data_files = sum(
        f.endswith(".parquet") for t in tables for _, _, fs in os.walk(t.root) for f in fs
    )
    res = {
        "warmup_s": warm,
        "ops": plain,
        "attempted": attempted,
        "failed": failed,
        "rows_per_s": rows / sum(plain),
        "extra": {
            "space_amp": (_dir_bytes(root) / sum(info["fresh_bytes"][:w]), "ratio"),
            "waves": (w, "count"),
            "wave_docs": (gen.CORPUS_WAVE_DOCS, "count"),
        },
        "files_per_commit": data_files / commits,
        "quality_keep_ratio": 1 - gate["rejected_quality"] / gate["wave_rows"],
    }
    if ctx.traced:
        res["traced_ops"] = traced
    return res


def corpus_layers(ctx: Ctx, folded: dict, res: dict) -> dict:
    sp = ctx.spans
    n = len(res["traced_ops"])
    mods = folded["by_module"]
    txlog = mods.get("sources.txlog", {})
    dedupe = mods.get("operators.dedupe", {})
    txlog_wall = ctx.tagger.wall_s.get("sources.txlog", 0.0)
    return {
        "plans.corpus_refresh.corpus_refresh_step.self_s": sp.self_s("plans.corpus_refresh.corpus_refresh_step"),
        "plans.corpus_refresh.corpus_snapshot.self_s": sp.self_s("plans.corpus_refresh.corpus_snapshot"),
        "sources.txlog.jobs": txlog.get("jobs", 0.0) / n,
        "sources.txlog.job_s": txlog.get("job_s", 0.0) / n,
        "sources.txlog.driver_s": max(0.0, txlog_wall - txlog.get("job_s", 0.0)) / n,
        "sources.txlog.output_mb": txlog.get("output_mb", 0.0) / n,
        "sources.txlog.files_per_commit": res["files_per_commit"],
        "operators.dedupe.job_s": dedupe.get("job_s", 0.0) / n,
        "operators.dedupe.shuffle_write_mb": dedupe.get("shuffle_write_mb", 0.0) / n,
        "functions.text.quality_keep_ratio": res["quality_keep_ratio"],
        **trace.engine_wide(_span_totals(ctx, folded), n),
    }


# --------------------------------------------------------------------------
# stream_gap_mark
# --------------------------------------------------------------------------

STREAM_PHASE_A_FILES = 2
STREAM_PHASE_B_FILES = 3  # at least; more when --seconds holds more intervals
# phase-B drop interval: about twice the per-file drain time on a quiet
# 4-core host. A file costs its own batch plus the no-data batch that
# follows when the watermark moves; at shorter intervals files queue
# behind those batches, and the latency then swings with host load.
STREAM_INTERVAL_S = 5.0


class _Progress:
    """StreamingQueryListener keeping every progress event."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = L()
        spark.streams.addListener(self.listener)

    def of(self, query_id) -> list:
        return [p for p in self.events if str(p.id) == str(query_id)]

    def batches(self, query_id) -> list:
        """Progress of the query's micro-batches that read a file."""
        return [p for p in self.of(query_id) if p.numInputRows > 0]


def _file_index(p) -> int:
    """With ``maxFilesPerTrigger=1`` a batch reads one file, and the file
    source's log offset counts files in arrival order."""
    return int(json.loads(p.sources[0].endOffset)["logOffset"])


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _stream_query(spark, src: str, out: str, ckpt: str, schema):
    """Start the R7 query over the files arriving in ``src``."""
    from etl_sendas_spark.sources.readers import ensure_nanos_readable, normalize_event_time
    from etl_sendas_spark.streaming.sessions import (
        gap_anchor_mark_stream,
        stream_to_partitioned_parquet,
    )

    ensure_nanos_readable(spark)
    events = normalize_event_time(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    ).select("event_id", "user_id", "event_type", "ts")
    marked = gap_anchor_mark_stream(
        events, group_keys=["user_id", "event_type"], ts_col="ts", gap_days=3, id_col="event_id"
    ).select("event_id", "validacion")
    return stream_to_partitioned_parquet(marked, out, ckpt, run_to_completion=False)


def stream_gap_mark(ctx: Ctx) -> dict:
    n_a = STREAM_PHASE_A_FILES
    n_b = max(STREAM_PHASE_B_FILES, int(ctx.seconds / STREAM_INTERVAL_S))
    first_b = 1 + n_a  # file 0 is the warm-up op
    info = ctx.helper.call(gen.gen_stream, ctx.seed, ctx.inputs)
    feed = sorted(os.listdir(os.path.join(ctx.inputs, "feed")))[: first_b + n_b]
    oracle = ctx.helper.call(oracles.stream_oracle, [os.path.join(ctx.inputs, "feed", f) for f in feed])
    spark = ctx.spark
    schema = spark.read.parquet(os.path.join(ctx.inputs, "feed", feed[0])).schema
    prog = _Progress(spark)
    base = os.path.join(ctx.work, "stream")
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def stage(i: int, mtime: float | None = None) -> float:
        """Drop feed file ``i`` into ``src`` atomically. Files staged
        together get increasing mtimes: the file source reads in mtime
        order, and out-of-order event time would fall behind the
        watermark."""
        tmp = os.path.join(base, f"{feed[i]}.tmp")
        shutil.copyfile(os.path.join(ctx.inputs, "feed", feed[i]), tmp)
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.replace(tmp, os.path.join(src, feed[i]))
        return time.time()

    def wait(done, timeout: float) -> None:
        deadline = time.time() + timeout
        while not done() and time.time() < deadline:
            time.sleep(0.05)

    def batch_end(p) -> float:
        return _ts(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1000

    # one query runs through both phases. Set-up and phase A: file 0 and
    # the phase-A files are staged up front and drained one per batch;
    # the batch of file 0 is the untimed warm-up op, the batches after
    # it give rows_per_s. Listener events arrive asynchronously.
    for i in range(first_b):
        stage(i, time.time() - 10 * first_b + i)
    cpu0, t0 = steal.snapshot(), time.time()
    q = _stream_query(spark, src, out, ckpt, schema)
    wait(lambda: len(prog.batches(q.id)) >= first_b or not q.isActive, 120)
    # phase B starts once the query idles, after the no-data batch that
    # follows the drain
    wait(lambda: q.status["message"] == "Waiting for data to arrive" or not q.isActive, 30)
    unstolen = 1 - steal.stolen_share(cpu0, steal.snapshot())
    ends = {_file_index(p): batch_end(p) for p in prog.batches(q.id)}
    warm = (ends.get(0, t0) - t0) * unstolen
    drain_s = (max(ends.values()) - ends.get(0, t0)) * unstolen
    rows_a = sum(info["file_rows"][1:first_b])

    # phase B: open loop. Due times are fixed up front, so a late drop
    # shows as latency, not as a shift of the schedule; the query runs
    # on its own thread meanwhile.
    cpu0 = steal.snapshot()
    drops: dict[int, tuple[float, float]] = {}  # file -> (due, dropped)
    t_start = time.time()
    for k in range(n_b):
        due = t_start + k * STREAM_INTERVAL_S
        time.sleep(max(0.0, due - time.time()))
        drops[first_b + k] = (due, stage(first_b + k))
    time.sleep(max(0.0, t_start + n_b * STREAM_INTERVAL_S - time.time()))
    backlog = n_b - sum(_file_index(p) >= first_b for p in prog.batches(q.id))
    q.processAllAvailable()
    q.stop()
    unstolen = 1 - steal.stolen_share(cpu0, steal.snapshot())
    wait(lambda: len(prog.batches(q.id)) >= first_b + n_b, 10)
    batches = prog.batches(q.id)
    spark.streams.removeListener(prog.listener)

    # files staged together share a drop time, so only their total is
    # checked; each phase-B batch must hold exactly its own file
    lat, failed = [], 0
    if sum(p.numInputRows for p in batches) != sum(info["file_rows"][: first_b + n_b]):
        failed += 1
    for p in batches:
        i = _file_index(p)
        if i in drops and p.numInputRows == info["file_rows"][i]:
            lat.append((batch_end(p) - drops[i][0]) * unstolen)
    failed += n_b - len(lat)
    if ctx.helper.call(oracles.parquet_digest, out, ["event_id", "validacion"]) != oracle:
        failed += 1
    late = [d - due for due, d in drops.values()]
    print(f"stream warm-up {warm:.2f} s, phase A {n_a} files in {drain_s:.2f} s, "
          f"phase B latencies {[round(x, 2) for x in lat]} s", file=sys.stderr)
    return {
        "warmup_s": warm,
        "ops": lat,
        "attempted": n_b + 1,
        "failed": failed,
        "rows_per_s": rows_a / drain_s,
        "extra": {
            "op_p90_s": (statistics.quantiles(lat, n=10)[-1], "s"),
            "backlog_files": (backlog, "count"),
            "generator_late_max_s": (max(late), "s"),
            "interval_s": (STREAM_INTERVAL_S, "s"),
            "feed_rows": (sum(info["file_rows"][: first_b + n_b]), "count"),
        },
        "progress": prog.of(q.id),
        "all_batches": sum(p.numInputRows > 0 for p in prog.events),
    }


def stream_layers(ctx: Ctx, folded: dict, res: dict) -> dict:
    prog = res["progress"]
    data = [p for p in prog if p.numInputRows > 0]

    def med(key: str) -> float:
        return statistics.median(p.durationMs.get(key, 0) for p in data) / 1000

    ops = [p.stateOperators[0] for p in prog if p.stateOperators]
    _, py_mb = trace.python_metrics(folded["all"], "FlatMapGroupsInPandasWithState")
    return {
        "streaming.sessions.trigger_s": med("triggerExecution"),
        "streaming.sessions.add_batch_s": med("addBatch"),
        "streaming.sessions.wal_commit_s": med("walCommit"),
        "streaming.sessions.query_planning_s": med("queryPlanning"),
        "streaming.sessions.state_rows": float(ops[-1].numRowsTotal),
        "streaming.sessions.state_mb": max(o.memoryUsedBytes for o in ops) / MB,
        "streaming.sessions.state_removed_rows": float(sum(o.numRowsRemoved for o in ops)),
        "streaming.sessions.state_commit_s": statistics.median(o.commitTimeMs for o in ops) / 1000,
        "streaming.sessions.watermark_dropped_rows": float(sum(o.numRowsDroppedByWatermark for o in ops)),
        # the session's jobs include the warm-up batch
        "streaming.sessions.python_mb": py_mb / res["all_batches"],
        **trace.engine_wide(folded["all"], res["all_batches"]),
    }


WORKLOADS = {
    "audit_month": (audit_month, audit_layers),
    "corpus_refresh": (corpus_refresh, corpus_layers),
    "stream_gap_mark": (stream_gap_mark, stream_layers),
}
