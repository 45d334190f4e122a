"""Round-9 query-inventory section (see plans/inventory.py for the
registry discipline). This module is NOT a public entry point —
plans.inventory star-imports it and owns the DRIVER_WINDOW literal and
the merged QUERIES/ORACLES registries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


def _t(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = True
) -> DataFrame:
    # widen=False for shuffle-first callers (see inv_relational._t)
    from ..sources.readers import read_table

    return read_table(spark, sf_dir, name, widen=widen)


PART_QUERIES: dict = {}
PART_ORACLES: dict = {}

# ===========================================================================
# round 9: merge-on-read DELETION VECTORS — DML without rewriting a
# byte, vectors absorbed by the next rewrite/compaction, composed
# under one driver-grade hash
# ===========================================================================


def txlog_dml_dv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deletion-vector DML ladder (sources/txlog.py round 9, the
    Delta/Iceberg merge-on-read mechanic): DELETE with ``mode="dv"``
    (error events in one event_id band) writes a {file: row positions}
    vector into the commit and NO data file — asserted in-query: the
    live file set is byte-identical before and after, the
    files-rewritten == 0 scale term CoW cannot offer — then a second
    vector accumulates (value outliers), a copy-on-write UPDATE runs
    over vectored files (its rewrite must NOT resurrect
    vector-deleted rows — the absorption rule: removing a file drops
    its vector), a merge-on-read UPDATE vectors its pre-images and
    appends only the post-update rows (asserted: prior files all stay
    live), and a compaction absorbs every remaining vector back
    into data files (asserted: no vectors survive). The final
    aggregate hashes the content.

    ORACLE: replays the statements as CTEs over the events view (two
    NOT-matching filters, a CASE update) — merge-on-read, vector
    accumulation, CoW absorption, and compaction must all reproduce
    plain SQL DML semantics for the hash to land.
    """
    import hashlib
    import shutil
    import tempfile

    from ..sources.txlog import TxLogTable

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"txlog_dv_{tag}")
    shutil.rmtree(root, ignore_errors=True)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = TxLogTable.create(
        root, ev.repartitionByRange(8, "event_id"), stat_cols=["event_id"]
    )
    v0_files = set(t.live_files())

    t.delete_where(
        spark,
        "event_id BETWEEN 2000 AND 2999 AND event_type = 'error'",
        mode="dv",
    )
    if set(t.live_files()) != v0_files:
        raise AssertionError(
            "dv delete touched the file set — merge-on-read regressed"
        )
    t.delete_where(spark, "value > 9000", mode="dv")

    # CoW update over (possibly) vectored files: the rewrite reads the
    # vector-applied survivors, so absorbed files must not resurrect
    t.update_where(
        spark,
        {"value": "value + 0.5"},
        "event_type = 'purchase' AND event_id % 13 = 0",
    )

    # merge-on-read UPDATE: one commit vectors the pre-images and
    # appends only the post-update rows — prior files untouched
    pre_files = set(t.live_files())
    t.update_where(
        spark,
        {"value": "value * 2"},
        "event_type = 'click' AND event_id % 31 = 0",
        mode="dv",
    )
    if not pre_files <= set(t.live_files()):
        raise AssertionError(
            "dv update removed files — merge-on-read regressed"
        )

    t.compact(spark, target_files=4)
    if t._replay_dvs():
        raise AssertionError(
            "compaction left deletion vectors behind — absorption "
            "regressed"
        )

    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
            F.max("event_id").alias("max_event_id"),
        )
    )


TXLOG_DML_DV_SQL = """
WITH base AS (
  SELECT event_id, user_id, event_type, value FROM events
), del1 AS (
  SELECT * FROM base
  WHERE NOT COALESCE(
    event_id BETWEEN 2000 AND 2999 AND event_type = 'error', FALSE)
), del2 AS (
  SELECT * FROM del1 WHERE NOT COALESCE(value > 9000, FALSE)
), upd AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN COALESCE(
                event_type = 'purchase' AND event_id % 13 = 0, FALSE)
              THEN value + 0.5 ELSE value END AS value
  FROM del2
), upd2 AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN COALESCE(
                event_type = 'click' AND event_id % 31 = 0, FALSE)
              THEN value * 2 ELSE value END AS value
  FROM upd
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       MAX(event_id) AS max_event_id
FROM upd2
GROUP BY event_type
"""

PART_QUERIES["txlog_dml_dv_events"] = txlog_dml_dv_events
PART_ORACLES["txlog_dml_dv_events"] = TXLOG_DML_DV_SQL


# ===========================================================================
# round 9: per-file Bloom index under the oracle hash — equality-probe
# file skipping where zone maps are blind
# ===========================================================================


def txlog_bloom_probe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups through the per-file Bloom index
    (sources/txlog.py round 9): events land UNCLUSTERED (hash-
    partitioned on user_id, so every file's event_id zone map spans
    the whole domain and range skipping is blind), bloom_cols=
    ["event_id"] indexes each file at commit, and a batch of equality
    probes reads a strict subset of files — asserted in-query via
    inputFiles, the 100 TB point-lookup scale term. The aggregate over
    the probed rows is what hashes; a Bloom false positive only
    widens the scan, never the result.

    ORACLE: plain IN-filter aggregate over the events view — index
    routing must be invisible to results.
    """
    import hashlib
    import shutil
    import tempfile

    from ..sources.txlog import TxLogTable

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"txlog_bloom_{tag}")
    shutil.rmtree(root, ignore_errors=True)

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = TxLogTable.create(
        root,
        ev.repartition(16, "user_id"),
        stat_cols=["event_id"],
        bloom_cols=["event_id"],
    )
    probes = [17, 1017, 4017, 9017]
    full_files = len(t.read(spark).inputFiles())
    probed = t.read(spark, prune={"event_id": probes})
    if not len(probed.inputFiles()) < full_files:
        raise AssertionError(
            "bloom probe read every file — index skipping regressed"
        )
    return (
        probed.filter(F.col("event_id").isin(probes))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


TXLOG_BLOOM_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
WHERE event_id IN (17, 1017, 4017, 9017)
GROUP BY event_type
"""

PART_QUERIES["txlog_bloom_probe_events"] = txlog_bloom_probe_events
PART_ORACLES["txlog_bloom_probe_events"] = TXLOG_BLOOM_SQL


# ===========================================================================
# round 9: the CDF STREAMING source driving incremental view
# maintenance, under the oracle hash
# ===========================================================================


def streaming_txlog_cdf_ivm_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The native change-feed source end-to-end
    (sources/txlog_source.py round 9): a DML'd events table — append,
    merge-on-read DELETE, CoW UPDATE — streams per-commit I/D rows
    through ``option("readChangeFeed","true")`` with engine
    checkpointing (one availableNow drain), and the feed folds through
    ``incremental_agg_update`` into a per-type aggregate state. The
    hashed result is the IVM state, so the file-level CDF algebra
    (vector positions as D, rewrite pre-images as self-cancelling
    D+I pairs) must compose to exactly the batch aggregate.

    ORACLE: the DML replayed as CTEs, then the same aggregate —
    equivalently the batch aggregate of the final snapshot.
    """
    import hashlib
    import shutil
    import tempfile

    from ..operators.ivm import aggregate_state, incremental_agg_update
    from ..sources.txlog import TxLogTable
    from ..sources.txlog_source import register_txlog_source

    register_txlog_source(spark)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    work = os.path.join(tempfile.gettempdir(), f"txlog_cdfivm_{tag}")
    shutil.rmtree(work, ignore_errors=True)
    root = os.path.join(work, "t")

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    t = TxLogTable.create(
        root,
        ev.filter(F.col("event_id") % 2 == 0).repartition(4),
        stat_cols=["event_id"],
    )
    t.append(ev.filter(F.col("event_id") % 2 == 1).repartition(4), spark)
    t.delete_where(spark, "event_type = 'error' AND event_id % 5 = 0",
                   mode="dv")
    t.update_where(spark, {"value": "value + 1.0"},
                   "event_type = 'click' AND event_id % 17 = 0")

    feed_dir = os.path.join(work, "feed")
    q = (
        spark.readStream.format("txlog")
        .option("readChangeFeed", "true")
        .load(root)
        .writeStream.format("json")
        .option("path", feed_dir)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    feed = spark.read.schema(
        "event_id long, event_type string, value double, "
        "_change_type string, _commit_version long"
    ).json(feed_dir)
    empty = aggregate_state(
        spark.createDataFrame(
            [], "event_id long, event_type string, value double"
        ),
        keys=["event_type"],
        sum_cols=["value"],
    )
    state = incremental_agg_update(
        empty,
        feed.withColumnRenamed("_change_type", "op").select(
            "event_id", "event_type", "value", "op"
        ),
        keys=["event_type"],
        sum_cols=["value"],
    )
    return state.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


STREAMING_CDF_IVM_SQL = """
WITH base AS (
  SELECT event_id, event_type, value FROM events
), del AS (
  SELECT * FROM base
  WHERE NOT COALESCE(event_type = 'error' AND event_id % 5 = 0, FALSE)
), upd AS (
  SELECT event_id, event_type,
         CASE WHEN COALESCE(
                event_type = 'click' AND event_id % 17 = 0, FALSE)
              THEN value + 1.0 ELSE value END AS value
  FROM del
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM upd
GROUP BY event_type
"""

PART_QUERIES["streaming_txlog_cdf_ivm_events"] = streaming_txlog_cdf_ivm_events
PART_ORACLES["streaming_txlog_cdf_ivm_events"] = STREAMING_CDF_IVM_SQL


# ===========================================================================
# round 9: DSIR — importance-resampled data selection (Xie et al.
# 2023), the published "make the corpus look like the target" recipe
# ===========================================================================


def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection over the documents corpus (operators/dsir.py):
    target = the src0-src2 slice, raw = everything; hashed uni+bigram
    bag (md5-60 bins), add-1 smoothed importance log-weights, per-doc
    scores, Gumbel-top-50 resampling (without replacement ∝
    exp(score), seed-deterministic). The hash covers the bin algebra,
    the smoothing, the score sums, AND the exact selected set.

    ORACLE: full SQL replay — same bins, same smoothing, same Gumbel
    variates from the same md5 bytes, same rounded-key cut.
    """
    from ..operators.dsir import dsir_resample

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    sel = dsir_resample(
        docs, "doc_id", "text", target, k=50,
        buckets=4096, alpha=1.0, seed=0,
    )
    return sel.select("doc_id", "source", "dsir_score", "dsir_key")


DSIR_SQL = """
WITH docs AS (
  SELECT doc_id, source,
         string_split(
           regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id, source, unnest(list_concat(
      toks,
      CASE WHEN len(toks) < 2 THEN []::VARCHAR[]
           ELSE list_transform(range(1, len(toks)),
                               i -> toks[i] || '_' || toks[i + 1]) END
  )) AS g
  FROM docs
),
occ AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(g), 1, 15))::BIGINT % 4096) AS bucket
  FROM grams
),
q AS (SELECT bucket, COUNT(*) AS qc FROM occ GROUP BY 1),
p AS (
  SELECT bucket, COUNT(*) AS tc FROM occ
  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1
),
np AS (SELECT COALESCE(SUM(tc), 0) AS n FROM p),
nq AS (SELECT COALESCE(SUM(qc), 0) AS n FROM q),
w AS (
  SELECT bucket,
         ln((COALESCE(tc, 0) + 1.0) / (np.n + 1.0 * 4096))
           - ln((COALESCE(qc, 0) + 1.0) / (nq.n + 1.0 * 4096)) AS log_w
  FROM p FULL OUTER JOIN q USING (bucket) CROSS JOIN np CROSS JOIN nq
),
scores AS (
  SELECT o.doc_id, ROUND(SUM(w.log_w), 6) AS dsir_score
  FROM occ o JOIN w USING (bucket) GROUP BY 1
),
keys AS (
  SELECT d.doc_id, d.source,
         COALESCE(s.dsir_score, 0.0) AS dsir_score,
         ROUND(
           COALESCE(s.dsir_score, 0.0)
           + -ln(-ln(
               ((('0x' || substr(md5(d.doc_id::VARCHAR || '_0'), 1, 15)
                 )::BIGINT)::DOUBLE + 0.5) / 1152921504606846976.0
             )),
           6) AS dsir_key
  FROM docs d LEFT JOIN scores s USING (doc_id)
)
SELECT doc_id, source, dsir_score, dsir_key
FROM keys
ORDER BY dsir_key DESC, doc_id
LIMIT 50
"""

PART_QUERIES["dsir_select_docs"] = dsir_select_docs
PART_ORACLES["dsir_select_docs"] = DSIR_SQL

# ===========================================================================
# round 9 (cont.): JOIN-view IVM — the bilinear delta rule; nothing
# else in the registry maintains a JOIN without recomputing it
# ===========================================================================


def ivm_join_view_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view
    (operators/ivm.join_view_state / incremental_join_update): the
    events⋈customer enrichment view, kept current through CDC feeds on
    BOTH sides — new events insert, every base event_id % 10 == 0
    retracts, customers c_custkey % 13 == 0 churn out entirely, and
    c_custkey % 7 == 0 re-segment to 'MOVED' (update as D+I, the CDC
    normal form). The delta is the three-term bilinear rule
    ΔA⋈B_new ⊕ A_new⋈ΔB ⊖ ΔA⋈ΔB with key-pruned base probes — the
    dim-churn × new-event overlap makes the correction term
    load-bearing: drop it and multiplicities double.

    ORACLE: full recompute of the final view from scratch — equality
    between "maintained incrementally" and "rebuilt from the effective
    bases" IS the IVM law, per-row multiplicities included."""
    from ..operators.ivm import incremental_join_update, join_view_state

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    split = F.lit("2024-01-16")
    a_old = ev.filter(F.col("ts") < split)
    state = join_view_state(
        a_old, cust, keys=["user_id"], a_cols=["event_type"],
        b_cols=["segment"],
    )

    a_changes = (
        ev.filter(F.col("ts") >= split)
        .withColumn("op", F.lit("I"))
        .unionByName(
            a_old.filter(F.col("event_id") % 10 == 0)
            .withColumn("op", F.lit("D"))
        )
        .select("user_id", "event_type", "op")
    )
    leave = cust.filter(F.col("user_id") % 13 == 0)
    move = cust.filter(
        (F.col("user_id") % 7 == 0) & (F.col("user_id") % 13 != 0)
    )
    b_changes = (
        leave.withColumn("op", F.lit("D"))
        .unionByName(move.withColumn("op", F.lit("D")))
        .unionByName(
            move.withColumn("segment", F.lit("MOVED"))
            .withColumn("op", F.lit("I"))
        )
        .select("user_id", "segment", "op")
    )

    a_new = ev.filter(
        (F.col("ts") >= split) | (F.col("event_id") % 10 != 0)
    )
    b_new = cust.filter(F.col("user_id") % 13 != 0).withColumn(
        "segment",
        F.when(F.col("user_id") % 7 == 0, F.lit("MOVED")).otherwise(
            F.col("segment")
        ),
    )
    new_state = incremental_join_update(
        state, a_changes, b_changes, a_new, b_new,
        keys=["user_id"], a_cols=["event_type"], b_cols=["segment"],
    )
    return new_state.select(
        "user_id", "event_type", "segment",
        F.col("n").cast("long").alias("n"),
    )


IVM_JOIN_VIEW_SQL = """
WITH a_eff AS (
  SELECT user_id, event_type FROM events WHERE ts >= '2024-01-16'
  UNION ALL
  SELECT user_id, event_type FROM events
  WHERE ts < '2024-01-16' AND event_id % 10 <> 0
), b_eff AS (
  SELECT c_custkey AS user_id,
         CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
              ELSE c_mktsegment END AS segment
  FROM customer WHERE c_custkey % 13 <> 0
)
SELECT a.user_id, a.event_type, b.segment, CAST(COUNT(*) AS BIGINT) AS n
FROM a_eff a JOIN b_eff b USING (user_id)
GROUP BY 1, 2, 3
"""

PART_QUERIES["ivm_join_view_events"] = ivm_join_view_events
PART_ORACLES["ivm_join_view_events"] = IVM_JOIN_VIEW_SQL

# ===========================================================================
# round 9 (cont.): trained linear quality classifier — closed-form
# least squares, the one model family the registry TRAINS end-to-end
# in exact integer arithmetic (moments + Cramer), oracle-replayable
# ===========================================================================


def quality_lsq_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-score of the least-squares quality discriminant
    (operators/classify.py): integer features (bias, token count,
    stopword hits) over every document, weak teacher label from the
    nonlinear prose rule, ONE distributed moment aggregate, exact
    Cramer solve on the driver, and the det-scaled integer margin as
    a pure Column — per-doc output (teacher label, margin, predicted
    label). The margin is an exact integer both engines cast to
    DOUBLE identically.

    ORACLE: replays the WHOLE training in SQL — same features, same
    teacher, the same nine moment sums in HUGEINT, the same three
    Cramer numerators and determinant, the same sign-folded margin —
    so the hash pins the trained MODEL, not just the scoring pass.
    """
    from ..operators.classify import (
        lsq_margin,
        lsq_train,
        quality_feature_exprs,
        weak_quality_label,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    fx = quality_feature_exprs("text")
    feats = docs.select(
        "doc_id", *[e.alias(k) for k, e in fx.items()]
    ).withColumn(
        "y", weak_quality_label({k: F.col(k) for k in fx})
    ).persist()
    try:
        cols = ["bias", "n_tokens", "n_stop"]
        nums, _det = lsq_train(feats, cols, "y")
        margin = lsq_margin(nums, cols)
        return feats.select(
            "doc_id",
            "y",
            margin.cast("double").alias("margin"),
            F.when(margin > 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("pred"),
        )
    finally:
        feats.unpersist()


QUALITY_LSQ_SQL = """
WITH base AS (
  SELECT doc_id, text,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents WHERE text IS NOT NULL
), feats AS (
  SELECT doc_id,
         CAST(1 AS BIGINT) AS bias,
         CAST(CASE WHEN norm = '' THEN 0
                   ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(norm, ' '),
              x -> x IN ('the','and','of','to','a','in','is','that')))
              AS BIGINT) AS n_stop,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM base
), lab AS (
  SELECT doc_id, bias, n_tokens, n_stop,
         CAST(CASE WHEN n_tokens >= 20 AND n_stop * 10 >= n_tokens
                        AND n_digits * 4 <= n_chars
                   THEN 1 ELSE -1 END AS BIGINT) AS y
  FROM feats
), mom AS (
  SELECT CAST(SUM(bias * bias) AS HUGEINT) AS m00,
         CAST(SUM(bias * n_tokens) AS HUGEINT) AS m01,
         CAST(SUM(bias * n_stop) AS HUGEINT) AS m02,
         CAST(SUM(n_tokens * n_tokens) AS HUGEINT) AS m11,
         CAST(SUM(n_tokens * n_stop) AS HUGEINT) AS m12,
         CAST(SUM(n_stop * n_stop) AS HUGEINT) AS m22,
         CAST(SUM(bias * y) AS HUGEINT) AS v0,
         CAST(SUM(n_tokens * y) AS HUGEINT) AS v1,
         CAST(SUM(n_stop * y) AS HUGEINT) AS v2
  FROM lab
), solve AS (
  SELECT
    m00*(m11*m22 - m12*m12) - m01*(m01*m22 - m12*m02)
      + m02*(m01*m12 - m11*m02) AS det,
    v0*(m11*m22 - m12*m12) - m01*(v1*m22 - m12*v2)
      + m02*(v1*m12 - m11*v2) AS n0,
    m00*(v1*m22 - m12*v2) - v0*(m01*m22 - m12*m02)
      + m02*(m01*v2 - v1*m02) AS n1,
    m00*(m11*v2 - v1*m12) - m01*(m01*v2 - v1*m02)
      + v0*(m01*m12 - m11*m02) AS n2
  FROM mom
)
SELECT l.doc_id, l.y,
       CAST((CASE WHEN s.det < 0 THEN -1 ELSE 1 END)
            * (s.n0*l.bias + s.n1*l.n_tokens + s.n2*l.n_stop)
            AS DOUBLE) AS margin,
       CAST(CASE WHEN (CASE WHEN s.det < 0 THEN -1 ELSE 1 END)
                      * (s.n0*l.bias + s.n1*l.n_tokens + s.n2*l.n_stop) > 0
                 THEN 1 ELSE -1 END AS BIGINT) AS pred
FROM lab l CROSS JOIN solve s
"""

PART_QUERIES["quality_lsq_classifier_docs"] = quality_lsq_classifier_docs
PART_ORACLES["quality_lsq_classifier_docs"] = QUALITY_LSQ_SQL

# ===========================================================================
# round 9 (cont.): at-rest inverted index — BM25 served from a
# bucket-partitioned postings table, no corpus access at query time
# ===========================================================================

_IDX_QUERIES = [
    (1, "spark hash join fast"),
    (2, "window sort batch"),
    (3, "key value table row"),
]


def search_bm25_index_at_rest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per query served from the AT-REST inverted index
    (operators/search.py round 9): postings built ONCE into a txlog
    table hive-partitioned by md5-60 term bucket, corpus stats riding
    the commit metadata; the probe partition-prunes to the query
    terms' buckets — asserted in-query via inputFiles: every scanned
    file must live under a hit bucket's directory — and never touches
    the corpus. Results must equal the inline bm25_topk algebra, which
    is exactly what the ORACLE replays in SQL (same tokenizer, same
    tf/df/dl integers, same rounding) — so the hash pins the index
    build, the metadata stats, the partition routing, AND the scoring.
    """
    import hashlib
    import shutil
    import tempfile

    from ..operators.search import (
        _py_bucket,
        _py_tokens,
        text_index_build,
        text_index_topk,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"textidx_{tag}")
    shutil.rmtree(root, ignore_errors=True)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    text_index_build(docs, root, buckets=16)

    out = text_index_topk(spark, root, _IDX_QUERIES, k=10)

    hit = {
        _py_bucket(tok, 16)
        for _, q in _IDX_QUERIES
        for tok in _py_tokens(q)
    }
    from ..sources.txlog import TxLogTable

    probe = TxLogTable(root).read(spark, prune={"bucket": sorted(hit)})
    bad = [
        f
        for f in probe.inputFiles()
        if not any(f"bucket={bk}/" in f for bk in hit)
    ]
    if bad or not probe.inputFiles():
        raise AssertionError(
            f"index probe escaped its buckets: {bad[:3]}"
        )
    return out


_IDX_QS_VALUES = ", ".join(f"({i}, '{q}')" for i, q in _IDX_QUERIES)

SEARCH_IDX_SQL = f"""
WITH qs(query_id, qtext) AS (VALUES {_IDX_QS_VALUES}),
qterm AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split(trim(regexp_replace(lower(qtext),
                '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '')) AS token
  FROM qs
),
docs AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '') AS toks
  FROM documents WHERE text IS NOT NULL
),
dl AS (SELECT doc_id, len(toks) AS dl FROM docs),
stats AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS token FROM docs)
  WHERE token IN (SELECT DISTINCT token FROM qterm)
  GROUP BY 1, 2
),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, t.doc_id,
         ROUND(SUM(
           ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * t.tf * (1.2 + 1.0)
           / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))
         ), 6) AS score
  FROM qterm q
  JOIN tf t USING (token)
  JOIN dfreq d USING (token)
  JOIN dl l ON l.doc_id = t.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score FROM (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= 10
"""

PART_QUERIES["search_bm25_index_at_rest_docs"] = search_bm25_index_at_rest_docs
PART_ORACLES["search_bm25_index_at_rest_docs"] = SEARCH_IDX_SQL

# ===========================================================================
# round 9 (cont.): incremental corpus refresh — the nightly pipeline
# as idempotent txlog steps; sequential-wave semantics under one hash
# ===========================================================================


def corpus_refresh_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three refresh waves through plans/corpus_refresh.py (quality
    gate + exact dedup vs the accumulated fingerprint index; near-dup
    off so the oracle is exact): sources src0+src1, then src2+src3,
    then a POISONED wave of src0 copies under shifted ids (planted
    cross-wave duplicates — the corpus has none naturally) plus fresh
    src4 docs. The copies must ALL reject against the wave-0
    fingerprints; the final accepted table hashes. In-query
    assertions: redelivering wave 1 is a no-op on every state table
    (idempotence), and the docs table's metadata-only row_count equals
    its scanned count.

    ORACLE: the sequential-wave law in SQL — a doc is kept iff it
    passes the Gopher panel AND its fingerprint first appears in its
    own wave AND it is the min-id holder of that fingerprint there.
    """
    import hashlib
    import shutil
    import tempfile

    from ..sources.txlog import TxLogTable
    from .corpus_refresh import corpus_refresh_step

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    root = os.path.join(tempfile.gettempdir(), f"crefresh_{tag}")
    shutil.rmtree(root, ignore_errors=True)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    waves = [
        ("w0", docs.filter(F.col("source").isin("src0", "src1"))),
        ("w1", docs.filter(F.col("source").isin("src2", "src3"))),
        (
            "w2",
            docs.filter(F.col("source") == "src0")
            .withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
            .unionByName(docs.filter(F.col("source") == "src4")),
        ),
    ]
    for wid, wdf in waves:
        corpus_refresh_step(
            spark, root, wdf, wid,
            keep_cols=["source"], with_near_dup=False,
        )

    replay = corpus_refresh_step(
        spark, root, waves[1][1], "w1",
        keep_cols=["source"], with_near_dup=False,
    )
    if replay["docs_version"] != "already" or replay["fps_version"] != "already":
        raise AssertionError(f"wave redelivery was not a no-op: {replay}")
    t = TxLogTable(os.path.join(root, "docs"))
    out = t.read(spark)
    if t.row_count() != out.count():
        raise AssertionError("metadata row_count drifted from scan")
    from ..functions.text import doc_fingerprint

    return out.select(
        "doc_id", "source", doc_fingerprint(F.col("text")).alias("fp")
    )


CORPUS_REFRESH_SQL = """
WITH wav AS (
  SELECT doc_id, source, text, 0 AS w FROM documents
  WHERE source IN ('src0', 'src1')
  UNION ALL
  SELECT doc_id, source, text, 1 FROM documents
  WHERE source IN ('src2', 'src3')
  UNION ALL
  SELECT doc_id + 1000000, source, text, 2 FROM documents
  WHERE source = 'src0'
  UNION ALL
  SELECT doc_id, source, text, 2 FROM documents WHERE source = 'src4'
), feat AS (
  SELECT doc_id, source, w,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
         CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
              THEN 0
              ELSE len(string_split(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), ' ')) END AS n_words,
         CAST(length(replace(trim(regexp_replace(lower(text),
              '[^a-z0-9]+', ' ', 'g')), ' ', '')) AS DOUBLE) AS n_alpha_chars,
         len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
         len(list_filter(string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' '),
             x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
         len(list_filter(string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' '),
             x -> list_contains(['the','and','of','to','in','is','that','for','with','on'], x)
               OR list_contains(['el','la','de','que','y','en','los','del','se','por'], x)))
           AS stop_hits
  FROM wav WHERE text IS NOT NULL
), q AS (
  SELECT doc_id, source, fp, w FROM feat
  WHERE n_words >= 50 AND n_words <= 100000
    AND (CASE WHEN n_words > 0 THEN n_alpha_chars / n_words ELSE 0.0 END)
        BETWEEN 3.0 AND 10.0
    AND (CASE WHEN n_words > 0 THEN CAST(n_symbols AS DOUBLE) / n_words
              ELSE 0.0 END) < 0.1
    AND (CASE WHEN n_words > 0 THEN CAST(n_alpha_words AS DOUBLE) / n_words
              ELSE 0.0 END) > 0.80
    AND stop_hits >= 2
), fw AS (SELECT fp, MIN(w) AS w FROM q GROUP BY fp),
kept AS (
  SELECT q.doc_id, q.source, q.fp,
         ROW_NUMBER() OVER (PARTITION BY q.fp ORDER BY q.doc_id) AS rn
  FROM q JOIN fw ON q.fp = fw.fp AND q.w = fw.w
)
SELECT doc_id, source, fp FROM kept WHERE rn = 1
"""

PART_QUERIES["corpus_refresh_incremental_docs"] = corpus_refresh_incremental_docs
PART_ORACLES["corpus_refresh_incremental_docs"] = CORPUS_REFRESH_SQL

# ===========================================================================
# round 9 (cont.): privacy gates
# ===========================================================================


def privacy_k_anonymize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppression-based k-anonymity with an l-diversity floor
    (operators/privacy.py): quasi-identifiers (user_id, event_type,
    day), sensitive attribute = the value's hundred-bucket; release
    only rows whose combination has k >= 3 rows AND >= 2 distinct
    sensitive values. The fine day-grained quasi set makes most
    combinations rare, so the suppression is real — the hash pins the
    exact released set.

    ORACLE: same grouping + thresholds in SQL; the released table is
    k-anonymous and l-diverse by construction in both engines."""
    from ..operators.privacy import k_anonymize

    ev = (
        _t(spark, sf_dir, "events", widen=False)
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") / 100).cast("long").alias("vb"),
        )
    )
    out = k_anonymize(
        ev, ["user_id", "event_type", "day"], k=3,
        sensitive_col="vb", min_l=2,
    )
    return out.select(
        "event_id", "user_id", "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
    )


PRIVACY_K_SQL = """
WITH base AS (
  SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS day,
         CAST(floor(value / 100) AS BIGINT) AS vb
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND value IS NOT NULL
), g AS (
  SELECT user_id, event_type, day,
         COUNT(*) AS k, COUNT(DISTINCT vb) AS l
  FROM base GROUP BY 1, 2, 3
)
SELECT b.event_id, b.user_id, b.event_type,
       strftime(b.day, '%Y-%m-%d') AS day
FROM base b JOIN g USING (user_id, event_type, day)
WHERE g.k >= 3 AND g.l >= 2
"""

PART_QUERIES["privacy_k_anonymize_events"] = privacy_k_anonymize_events
PART_ORACLES["privacy_k_anonymize_events"] = PRIVACY_K_SQL
