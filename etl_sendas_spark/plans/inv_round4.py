"""Query-inventory section split out of plans/inventory.py (round-6
item 9: no file >2,500 lines). This module is NOT a public entry
point — plans.inventory star-imports it and owns the single
DRIVER_WINDOW literal and the merged QUERIES/ORACLES registries.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.dates import edad_unidad, edad_valor, parse_js_timestamp
from ..functions.strings import split_full_name
from ..functions.text import (
    PII_PATTERNS,
    doc_fingerprint,
    lang_id,
    pii_counts,
    pii_redact,
    quality_features,
    repeated_ngram_ratio,
    token_count,
)
from ..operators.dedupe import (
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from ..operators.marking import capped_group_mark, gap_anchor_mark, sessionize
from ..operators.multimodal import extract_features
from ..operators.relational import first_flag, keep_first
from ..operators.sampling import stratified_sample
from ..operators.similarity import cosine_topk, ivf_cosine_topk, lsh_cosine_topk
from ..sources.readers import ROW_ID, load_fact_files
from .sendas_driver_query import SENDAS_FULL_SQL, sendas_full_pipeline
from .tpch import TPCH_ORACLES, TPCH_QUERIES


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.readers import read_table

    return read_table(spark, sf_dir, name)


def _dec_sum(col, scale: int = 6):
    """Order-insensitive exact sum: cast each term to DECIMAL, sum, back
    to double. DuckDB mirror: SUM(CAST(x AS DECIMAL(18,6)))::DOUBLE."""
    return F.sum(col.cast("decimal(18,6)")).cast("double")


from .inv_relational import *  # noqa: F401,F403 — earlier sections' helpers
from .inv_corpus import *  # noqa: F401,F403 — earlier sections' helpers

# Queries registered by THIS module; plans.inventory merges them
# into the global EXTRA registries after the base literals.
from .inv_corpus import (  # noqa: E402 — underscore helpers star-import skips
    _TOKS_SQL,
    _stream_events,
)

PART_QUERIES: dict = {}
PART_ORACLES: dict = {}


def streaming_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE-by-key sink: the event stream upserts a keyed
    latest-state table (key = user_id, last-writer-wins on event_id)
    through versioned idempotent snapshots — the dimension-maintenance
    sink the plain append file sink cannot express. The readback is the
    final snapshot; the oracle is per-key argmax(event_id)."""
    import tempfile

    from ..streaming.sessions import read_upsert_table, stream_upsert_to_parquet

    stream = _stream_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = tempfile.mkdtemp(prefix="stream_upsert_")
    stream_upsert_to_parquet(
        stream,
        f"{tmp}/table",
        f"{tmp}/ckpt",
        keys=["user_id"],
        seq_col="event_id",
    )
    return read_upsert_table(spark, f"{tmp}/table").select(
        "user_id", "event_id", "event_type", "value"
    )


STREAM_UPSERT_SQL = """
SELECT user_id, event_id, event_type, value
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""

PART_QUERIES["streaming_upsert_events"] = streaming_upsert_events
PART_ORACLES["streaming_upsert_events"] = STREAM_UPSERT_SQL


def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-(user, event_type) COUNT/SUM
    aggregate built over the first half of January is maintained to
    month-end by a CDC feed alone — inserts for the new events plus
    deletes retracting every event_id % 10 == 0 base row — without
    rescanning the base. The oracle recomputes the final state from
    scratch; equality IS the IVM law. MIN/MAX stay out by design (not
    self-maintainable under deletes; see operators/ivm.py)."""
    from ..operators.ivm import aggregate_state, incremental_agg_update

    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16")
    base = ev.filter(F.col("ts") < split)
    state = aggregate_state(base, keys=["user_id", "event_type"], sum_cols=["value"])
    inserts = ev.filter(F.col("ts") >= split).withColumn("op", F.lit("I"))
    deletes = base.filter(F.col("event_id") % 10 == 0).withColumn("op", F.lit("D"))
    changes = inserts.unionByName(deletes)
    new_state = incremental_agg_update(
        state, changes, keys=["user_id", "event_type"], sum_cols=["value"]
    )
    return new_state.select(
        "user_id",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
    )


IVM_SQL = """
WITH eff AS (
  SELECT user_id, event_type, value FROM events WHERE ts >= '2024-01-16'
  UNION ALL
  SELECT user_id, event_type, value FROM events
  WHERE ts < '2024-01-16' AND event_id % 10 <> 0
)
SELECT user_id, event_type, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_value
FROM eff
GROUP BY user_id, event_type
"""

PART_QUERIES["ivm_incremental_agg"] = ivm_incremental_agg
PART_ORACLES["ivm_incremental_agg"] = IVM_SQL


def ivm_minmax_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for the NON-self-maintainable aggregates: per-(user,
    event_type) MIN/MAX of value maintained through the same
    insert+delete CDC scenario as ivm_incremental_agg — deletes that
    touch a group's extreme re-aggregate ONLY that group against the
    key-pruned effective base (operators/ivm.incremental_minmax_update);
    untouched groups merge change-feed-sized. The oracle recomputes the
    final state from scratch; equality is the law, and the delete set
    (every event_id % 10 == 0) is guaranteed to hit some extremes and
    miss others, so BOTH branches are exercised."""
    from ..operators.ivm import incremental_minmax_update, minmax_state

    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16")
    base = ev.filter(F.col("ts") < split)
    state = minmax_state(base, keys=["user_id", "event_type"], val_col="value")
    inserts = ev.filter(F.col("ts") >= split).withColumn("op", F.lit("I"))
    deletes = base.filter(F.col("event_id") % 10 == 0).withColumn("op", F.lit("D"))
    changes = inserts.unionByName(deletes)
    effective = ev.filter(
        (F.col("ts") >= split)
        | ((F.col("ts") < split) & (F.col("event_id") % 10 != 0))
    )
    new_state = incremental_minmax_update(
        state, changes, effective, keys=["user_id", "event_type"],
        val_col="value",
    )
    return new_state.select(
        "user_id",
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("min_v").cast("double"), 6).alias("min_v"),
        F.round(F.col("max_v").cast("double"), 6).alias("max_v"),
    )


IVM_MINMAX_SQL = """
WITH eff AS (
  SELECT user_id, event_type, value FROM events WHERE ts >= '2024-01-16'
  UNION ALL
  SELECT user_id, event_type, value FROM events
  WHERE ts < '2024-01-16' AND event_id % 10 <> 0
)
SELECT user_id, event_type, COUNT(*) AS n,
       ROUND(CAST(MIN(value) AS DOUBLE), 6) AS min_v,
       ROUND(CAST(MAX(value) AS DOUBLE), 6) AS max_v
FROM eff
GROUP BY user_id, event_type
"""

PART_QUERIES["ivm_minmax_incremental"] = ivm_minmax_incremental
PART_ORACLES["ivm_minmax_incremental"] = IVM_MINMAX_SQL


def dedup_cluster_star_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same pair→cluster contract as ``dedup_cluster_docs`` but
    closed with ALTERNATING large-star/small-star rounds
    (operators/dedupe.connected_components_star) instead of min-label
    propagation: O(log n) rounds vs O(component diameter), the variant
    that survives long-chain components (tests demonstrate a 1024-node
    path converging in ~5 star rounds where propagation needs ~1024).
    Identical output on identical input — the ORACLE is the very same
    recursive-closure SQL as the propagation row, so the driver hash
    also proves the two algorithms agree."""
    from ..operators.dedupe import connected_components_star

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text",
        num_hashes=64, bands=16, shingle_n=3, verify_threshold=0.5,
    )
    cc = connected_components_star(pairs, out_id="doc_id", out_label="cluster_id")
    out = docs.select("doc_id").join(cc, "doc_id", "left")
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return out.select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_canonical"),
    )


PART_QUERIES["dedup_cluster_star_docs"] = dedup_cluster_star_docs
PART_ORACLES["dedup_cluster_star_docs"] = DEDUP_CLUSTER_SQL


def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: document-level PMI over the top-200-df
    vocabulary (operators/search.cooccurrence_pmi — postings filtered
    to the broadcast vocabulary BEFORE the one self-join on doc, so
    the pair explosion is vocab²-bounded per doc, never doc-length²),
    pairs in ≥5 docs. The ORACLE replays vocabulary selection
    (df-desc, token tiebreak), the pair counts, and the exact-count
    PMI formula in SQL."""
    from ..operators.search import cooccurrence_pmi

    docs = _t(spark, sf_dir, "documents")
    return cooccurrence_pmi(
        docs, vocab_size=200, min_pair_docs=5
    )


COOCCURRENCE_PMI_SQL = """
WITH base AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x != '') AS toks
  FROM documents WHERE text IS NOT NULL
), n AS (SELECT COUNT(*) AS n_docs FROM base),
post AS (
  SELECT DISTINCT doc_id, unnest(toks) AS token FROM base
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM post GROUP BY token
), vocab AS (
  SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 200
), vp AS (
  SELECT p.doc_id, p.token, v.df FROM post p JOIN vocab v USING (token)
), pairs AS (
  SELECT a.token AS tok_a, b.token AS tok_b,
         COUNT(*) AS pair_docs, MAX(a.df) AS df_a, MAX(b.df) AS df_b
  FROM vp a JOIN vp b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
  HAVING COUNT(*) >= 5
)
SELECT tok_a, tok_b, pair_docs,
       ROUND(ln(CAST(n.n_docs AS DOUBLE) * pair_docs
                / (CAST(df_a AS DOUBLE) * df_b)), 6) AS pmi
FROM pairs, n
"""

PART_QUERIES["text_cooccurrence_pmi"] = text_cooccurrence_pmi
PART_ORACLES["text_cooccurrence_pmi"] = COOCCURRENCE_PMI_SQL


def streaming_matview_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized view: per-(event_type) running COUNT/SUM
    maintained incrementally per micro-batch (foreachBatch + IVM over
    versioned snapshots — state at rest in parquet, never re-aggregated
    from history). Oracle: the one-shot batch aggregate."""
    import tempfile

    from ..streaming.sessions import read_upsert_table, stream_maintain_agg_view

    stream = _stream_events(spark, sf_dir).select("event_type", "value")
    tmp = tempfile.mkdtemp(prefix="stream_matview_")
    stream_maintain_agg_view(
        stream,
        f"{tmp}/view",
        f"{tmp}/ckpt",
        keys=["event_type"],
        sum_cols=["value"],
    )
    res = read_upsert_table(spark, f"{tmp}/view")
    return res.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
    )


STREAM_MATVIEW_SQL = """
SELECT event_type, COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_value
FROM events
GROUP BY event_type
"""

PART_QUERIES["streaming_matview_counts"] = streaming_matview_counts
PART_ORACLES["streaming_matview_counts"] = STREAM_MATVIEW_SQL


def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: part names matched against a corrupted
    copy (one char substituted at a length-derived position) within
    Levenshtein distance 2 — q-gram blocking with the count-filtering
    recall bound + JVM levenshtein verify (operators/linkage.py). The
    oracle brute-forces ALL pairs, so parity proves the blocking lost
    nothing."""
    from ..operators.linkage import fuzzy_join

    perturb = (
        "concat(substr(p_name, 1, (length(p_name) % 5) + 1), 'x', "
        "substr(p_name, (length(p_name) % 5) + 3))"
    )
    p = _t(spark, sf_dir, "part")
    left = p.select(F.col("p_name")).distinct().select(
        F.col("p_name").alias("lkey"), F.col("p_name").alias("l_name")
    )
    right = p.select(F.expr(perturb).alias("r_name")).distinct().select(
        F.col("r_name").alias("rkey"), F.col("r_name")
    )
    out = fuzzy_join(
        left, right,
        left_id="lkey", left_col="l_name",
        right_id="rkey", right_col="r_name",
        max_dist=2, q=2,
    )
    return out.select("l_name", "r_name", "dist")


FUZZY_MATCH_SQL = """
WITH l AS (SELECT DISTINCT p_name FROM part),
r AS (
  SELECT DISTINCT concat(substr(p_name, 1, (length(p_name) % 5) + 1), 'x',
                         substr(p_name, (length(p_name) % 5) + 3)) AS r_name
  FROM part
)
SELECT l.p_name AS l_name, r.r_name,
       CAST(levenshtein(l.p_name, r.r_name) AS INTEGER) AS dist
FROM l, r
WHERE levenshtein(l.p_name, r.r_name) <= 2
"""

PART_QUERIES["fuzzy_match_part_names"] = fuzzy_match_part_names
PART_ORACLES["fuzzy_match_part_names"] = FUZZY_MATCH_SQL


def a_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group anomaly flags: z-score of value within event_type via
    window mean/stddev — one shuffle on the group key, no self-join
    (the naive form joins per-group stats back). Both engines compute
    sample stddev; the z is rounded to 6 to pin float parity."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return (
        ev.withColumn("z", F.round(z, 6))
        .filter(F.abs(F.col("z")) > 2.5)
        .select("event_id", "event_type", "value", "z")
    )


A_OUTLIER_SQL = """
SELECT event_id, event_type, value, z
FROM (
  SELECT event_id, event_type, value,
         ROUND((value - AVG(value) OVER (PARTITION BY event_type))
               / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 6) AS z
  FROM events
)
WHERE ABS(z) > 2.5
"""


def a_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling WITH gap filling: daily per-type counts
    over the full calendar span, EMPTY days materialized as zero rows
    (the buckets a plain groupBy silently omits). The calendar is a
    1-row sequence exploded and cross-joined against the distinct key
    set — both broadcast-sized — then the real aggregate left-joins
    on. No fact-sized shuffle beyond the one aggregation."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    span = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    calendar = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    keys = ev.select("event_type").distinct()
    grid = calendar.crossJoin(F.broadcast(keys))
    return (
        grid.join(agg, ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )


A_RESAMPLE_SQL = """
WITH span AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
), calendar AS (
  SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM span
), keys AS (SELECT DISTINCT event_type FROM events),
agg AS (
  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT strftime(c.day, '%Y-%m-%d') AS day, k.event_type,
       COALESCE(a.n, 0) AS n
FROM calendar c CROSS JOIN keys k
LEFT JOIN agg a ON a.day = c.day AND a.event_type = k.event_type
"""


def a_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted
    again at each day offset they return — the two-level aggregate
    (first-touch window, then (cohort, offset) rollup) every product
    analytics stack runs. One window shuffle on user_id + one
    distinct-sized aggregation; no self-join."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    w = Window.partitionBy("user_id")
    cohorted = ev.withColumn("cohort", F.min("day").over(w)).withColumn(
        "offset_days", F.datediff("day", F.col("cohort"))
    )
    return (
        cohorted.select("user_id", "cohort", "offset_days")
        .distinct()
        .groupBy("cohort", "offset_days")
        .agg(F.count("*").alias("n_users"))
        .filter(F.col("offset_days").isin(0, 1, 7, 14))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "offset_days",
            "n_users",
        )
    )


A_COHORT_SQL = """
WITH cohorted AS (
  SELECT DISTINCT user_id,
         MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort,
         date_diff('day', MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id),
                   CAST(ts AS DATE)) AS offset_days
  FROM events
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort, offset_days,
       COUNT(*) AS n_users
FROM cohorted
WHERE offset_days IN (0, 1, 7, 14)
GROUP BY cohort, offset_days
"""

PART_QUERIES["a_outlier_zscore"] = a_outlier_zscore
PART_ORACLES["a_outlier_zscore"] = A_OUTLIER_SQL
PART_QUERIES["a_resample_gapfill"] = a_resample_gapfill
PART_ORACLES["a_resample_gapfill"] = A_RESAMPLE_SQL
PART_QUERIES["a_cohort_retention"] = a_cohort_retention
PART_ORACLES["a_cohort_retention"] = A_COHORT_SQL


# ===========================================================================
# round-4 third session: retrieval, warehouse history, reshaping, web URLs
# ===========================================================================

_BM25_QUERIES = [
    (1, "spark hash join"),
    (2, "table scan fast"),
    (3, "window sort merge"),
    (4, "batch value row"),
    (5, "key part line slow"),
]


def search_bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval: Okapi BM25 top-10 per query over the corpus.

    Inverted-index plan shape (operators/search.py): dl is computed in
    the scan projection, the postings explode is filtered to the
    broadcast query vocabulary BEFORE the one corpus-keyed shuffle, and
    IDF derives from the already-filtered tf frame. Scores round to 6
    BEFORE ranking so float summation order cannot reorder the top-k
    across engines."""
    from ..operators.search import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_QUERIES, k=10)


_BM25_QS_VALUES = ", ".join(
    f"({i}, '{q}')" for i, q in _BM25_QUERIES
)

SEARCH_BM25_SQL = f"""
WITH qs(query_id, qtext) AS (VALUES {_BM25_QS_VALUES}),
qterm AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split(trim(regexp_replace(lower(qtext),
                '[^a-z0-9]+', ' ', 'g')), ' '), t -> t <> '')) AS token
  FROM qs
),
docs AS (
  SELECT doc_id, list_filter({_TOKS_SQL}, t -> t <> '') AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks) AS dl FROM docs),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
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


def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build: each user's event_type change feed
    collapsed into validity intervals (valid_from/valid_to/is_current)
    — the versioned-dimension derivation every warehouse runs on a CDC
    stream, and the inverse of the as-of join that reads it back. One
    hash exchange on user_id total (gaps-and-islands windows + the
    segment aggregate share the key)."""
    from ..operators.relational import scd2_history

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    hist = scd2_history(ev, "user_id", ["ts", "event_id"], "event_type")
    return hist.select(
        "user_id",
        "state",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "n_events",
        "is_current",
    )


SCD2_HISTORY_SQL = """
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(event_type) OVER w IS NOT DISTINCT FROM event_type
              THEN 0 ELSE 1 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS seg
  FROM o
), g AS (
  SELECT user_id, seg, event_type AS state,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM s GROUP BY 1, 2, 3
)
SELECT user_id, state,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(LEAD(valid_from) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
       n_events,
       (LEAD(valid_from) OVER w2 IS NULL) AS is_current
FROM g
WINDOW w2 AS (PARTITION BY user_id ORDER BY seg)
"""


def a_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape: three lineitem measures unpivoted to
    (metric, value) rows — the melt every metrics store and feature
    pipeline needs. Narrow per-row transform: no shuffle at all (the
    explode-free relational unpivot keeps it scan-local), output is
    3x the scan rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("quantity"),
        F.col("l_extendedprice").cast("double").alias("extendedprice"),
        F.col("l_discount").cast("double").alias("discount"),
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "extendedprice", "discount"],
        "metric",
        "value",
    ).withColumn("value", F.round("value", 6))


A_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, metric, ROUND(value, 6) AS value
FROM (
  UNPIVOT (SELECT l_orderkey, l_linenumber,
                  CAST(l_quantity AS DOUBLE) AS quantity,
                  CAST(l_extendedprice AS DOUBLE) AS extendedprice,
                  CAST(l_discount AS DOUBLE) AS discount
           FROM lineitem)
  ON quantity, extendedprice, discount INTO NAME metric VALUE value
)
"""


def scalar_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py): scheme/case/port/www/
    fragment/utm normalization with pure JVM regex chains — the scalar
    prerequisite of web-corpus URL dedup and per-domain statistics.
    The messy raw URLs are synthesized deterministically per doc (case
    soup, optional www/port/trailing-slash, utm-polluted queries,
    fragments) so both engines canonicalize the identical byte
    strings; the oracle replays the same RE2-safe regexes."""
    from ..functions.urls import (
        canonical_url,
        url_host,
        url_path,
        url_query_clean,
    )

    d = F.col("doc_id")
    raw = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("http://")),
        F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.upper("source")).otherwise(F.col("source")),
        F.lit(".Example.COM"),
        F.when(d % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/"),
        F.col("lang"),
        F.lit("/doc/"),
        d.cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 2 == 0, F.lit("?utm_source=feed&ref=a&utm_campaign=x")
        )
        .when(d % 7 == 0, F.lit("?utm_only=1"))
        .otherwise(F.lit("?ref=b")),
        F.when(d % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    docs = _t(spark, sf_dir, "documents").withColumn("url", raw)
    u = F.col("url")
    return docs.select(
        "doc_id",
        "url",
        url_host(u).alias("host"),
        url_path(u).alias("path"),
        url_query_clean(u).alias("query_clean"),
        canonical_url(u).alias("canonical_url"),
    )


_URL_RAW_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0 THEN UPPER(source) ELSE source END)
    || '.Example.COM'
    || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
    || '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR)
    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
    || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&ref=a&utm_campaign=x'
             WHEN doc_id % 7 = 0 THEN '?utm_only=1'
             ELSE '?ref=b' END)
    || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)
"""

SCALAR_URL_SQL = f"""
WITH u AS (SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents),
parts AS (
  SELECT doc_id, url,
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
      '^www\\.', ''), ':(80|443)$', '') AS host,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)
      AS path0,
    regexp_replace(regexp_replace(regexp_replace(
      regexp_extract(url, '\\?([^#]*)', 1),
      '(^|&)utm_[^&]*', '\\1', 'g'), '&&+', '&', 'g'), '^&|&$', '', 'g')
      AS q0
  FROM u
),
norm AS (
  SELECT doc_id, url, host,
    CASE WHEN path0 = '' OR path0 = '/' THEN '/'
         ELSE regexp_replace(path0, '/$', '') END AS path,
    CASE WHEN q0 = '' THEN NULL ELSE q0 END AS query_clean
  FROM parts
)
SELECT doc_id, url, host, path, query_clean,
       'https://' || host || path
       || (CASE WHEN query_clean IS NULL THEN '' ELSE '?' || query_clean END)
         AS canonical_url
FROM norm
"""

PART_QUERIES["search_bm25_docs"] = search_bm25_docs
PART_ORACLES["search_bm25_docs"] = SEARCH_BM25_SQL
PART_QUERIES["scd2_user_state_history"] = scd2_user_state_history
PART_ORACLES["scd2_user_state_history"] = SCD2_HISTORY_SQL
PART_QUERIES["a_unpivot_metrics"] = a_unpivot_metrics
PART_ORACLES["a_unpivot_metrics"] = A_UNPIVOT_SQL
PART_QUERIES["scalar_url_canonicalize"] = scalar_url_canonicalize
PART_ORACLES["scalar_url_canonicalize"] = SCALAR_URL_SQL


def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    exponential clocks, hash-derandomized): 50 docs drawn with
    probability proportional to length. The selection is a global
    top-k on the per-row key — TakeOrderedAndProject, reproducible
    across engines because the only randomness is md5(doc_id); the
    oracle replays the identical key formula."""
    from ..operators.sampling import weighted_sample_k

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_k(docs, "doc_id", "n_chars", k=50)


SAMPLE_WEIGHTED_SQL = """
SELECT doc_id, n_chars, sample_key FROM (
  SELECT doc_id, n_chars,
         ROUND(
           -ln(CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     + 1) AS DOUBLE) / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE), 12) AS sample_key
  FROM documents
)
ORDER BY sample_key, doc_id
LIMIT 50
"""


_PHRASE = ["value", "fast", "spark"]


def search_phrase_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search via a positional inverted index
    (operators/search.py): postings filtered to the phrase tokens
    scan-side, anchor-alignment vote, all-offsets-present = match.
    The oracle is a genuinely different algorithm (per-doc array scan
    over candidate anchors), so agreement validates the distributed
    index construction itself."""
    from ..operators.search import phrase_match

    docs = _t(spark, sf_dir, "documents")
    out = phrase_match(docs, _PHRASE)
    return out.select(
        "doc_id",
        F.col("first_pos").cast("long").alias("first_pos"),
        "n_occurrences",
    )


SEARCH_PHRASE_SQL = f"""
WITH docs AS (
  SELECT doc_id, list_filter({_TOKS_SQL}, t -> t <> '') AS toks FROM documents
),
cand AS (
  SELECT doc_id, toks, UNNEST(range(1, len(toks) - 1)) AS a FROM docs
),
m AS (
  SELECT doc_id, a FROM cand
  WHERE toks[a] = '{_PHRASE[0]}'
    AND toks[a + 1] = '{_PHRASE[1]}'
    AND toks[a + 2] = '{_PHRASE[2]}'
)
SELECT doc_id, MIN(a) AS first_pos, COUNT(*) AS n_occurrences
FROM m GROUP BY doc_id
"""

PART_QUERIES["sample_weighted_docs"] = sample_weighted_docs
PART_ORACLES["sample_weighted_docs"] = SAMPLE_WEIGHTED_SQL
PART_QUERIES["search_phrase_docs"] = search_phrase_docs
PART_ORACLES["search_phrase_docs"] = SEARCH_PHRASE_SQL


def streaming_interval_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, paired with
    same-user views within the following hour OR null-extended once the
    watermark proves no view can still arrive. Exercises watermark-
    driven state eviction as an OUTPUT (not just a memory bound): a
    null row is only correct once the global watermark — min of the two
    streams' own ``max(ts) - delay`` — passes ``click_ts + within``.
    The oracle replicates exactly that: a batch left join plus the
    explicit watermark predicate on unmatched rows (a plain batch outer
    join would overcount: left rows still buffered at shutdown never
    emit)."""
    from ..streaming.sessions import interval_join_streams, run_stream_to_memory

    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), "ts")
    )
    views = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("r_ts"),
        )
    )
    joined = interval_join_streams(
        clicks, views, key_col="user_id", left_ts="ts", right_ts="r_ts",
        within="1 hour", watermark="2 hours", how="left_outer",
    )
    run_stream_to_memory(
        joined, "interval_left_join_result", output_mode="append"
    )
    res = spark.table("interval_left_join_result")
    return res.select(
        "user_id",
        "click_id",
        "view_id",
        (F.unix_micros("r_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


STREAM_INTERVAL_LEFT_JOIN_SQL = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts FROM events
  WHERE event_type = 'click'
), v AS (
  SELECT user_id, event_id AS view_id, ts AS r_ts FROM events
  WHERE event_type = 'view'
), wm AS (
  SELECT LEAST((SELECT MAX(ts) FROM c), (SELECT MAX(r_ts) FROM v))
         - INTERVAL 2 HOUR AS w
), j AS (
  SELECT c.user_id, c.click_id, v.view_id,
         epoch_us(v.r_ts) - epoch_us(c.ts) AS gap_us, c.ts
  FROM c LEFT JOIN v
    ON c.user_id = v.user_id
   AND v.r_ts >= c.ts AND v.r_ts <= c.ts + INTERVAL 1 HOUR
)
SELECT user_id, click_id, view_id, gap_us
FROM j, wm
WHERE view_id IS NOT NULL OR ts + INTERVAL 1 HOUR < wm.w
"""

PART_QUERIES["streaming_interval_left_join"] = streaming_interval_left_join
PART_ORACLES["streaming_interval_left_join"] = STREAM_INTERVAL_LEFT_JOIN_SQL


def a_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped statistical aggregates — Pearson correlation, sample
    covariance, sample stddev — the feature-engineering / drift-
    monitoring panel. All JVM-side partial-aggregable (one shuffle
    carrying one state row per group); rounded to 6 before hashing
    because the co-moment sums are float-order-dependent."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
            "covar_qty_disc"
        ),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("std_price"),
        F.count("*").alias("n"),
    )


A_CORR_SQL = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
       ROUND(stddev_samp(l_extendedprice), 6) AS std_price,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def quality_deciles_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing AT SCALE: assign each doc its corpus-wide
    length decile WITHOUT a global window. ``ntile(10) OVER (ORDER BY
    ..)`` forces every row through one partition — the canonical
    global-sort bottleneck; instead the 9 interpolated percentile
    thresholds reduce to one broadcast-sized row and the assignment is
    a scan-local comparison sum. This is how a 100 TB corpus gets
    quality/length tiers for mixing and curriculum schedules. Ties at
    a threshold go to the lower decile in both engines (strict >)."""
    docs = _t(spark, sf_dir, "documents")
    qs = [i / 10.0 for i in range(1, 10)]
    thresholds = docs.agg(
        *[
            F.expr(f"percentile(n_chars, {q})").alias(f"t{i}")
            for i, q in enumerate(qs, 1)
        ]
    )
    decile = sum(
        F.when(F.col("n_chars") > F.col(f"t{i}"), 1).otherwise(0)
        for i in range(1, 10)
    ) + 1
    return (
        docs.crossJoin(F.broadcast(thresholds))
        .select(
            "doc_id",
            "n_chars",
            decile.cast("int").alias("decile"),
        )
    )


QUALITY_DECILES_SQL = """
WITH t AS (
  SELECT {cols} FROM documents
)
SELECT d.doc_id, d.n_chars,
       CAST(1 {cases} AS INT) AS decile
FROM documents d CROSS JOIN t
""".format(
    cols=", ".join(
        f"quantile_cont(n_chars, {i / 10.0}) AS t{i}" for i in range(1, 10)
    ),
    cases=" ".join(
        f"+ (CASE WHEN d.n_chars > t.t{i} THEN 1 ELSE 0 END)"
        for i in range(1, 10)
    ),
)

PART_QUERIES["a_corr_stats"] = a_corr_stats
PART_ORACLES["a_corr_stats"] = A_CORR_SQL
PART_QUERIES["quality_deciles_docs"] = quality_deciles_docs
PART_ORACLES["quality_deciles_docs"] = QUALITY_DECILES_SQL


def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py): per query
    vector, the top-5 nearest neighbors under cosine that carry a
    DIFFERENT class label — the contrastive-training negatives with
    the most gradient signal. Label filter applies before scoring, so
    same-label vectors cost a predicate, not a dot product."""
    from ..operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return hard_negatives(
        emb, queries, id_col="vec_id", vec_col="embedding",
        label_col="label", k=5,
    )


MINE_HARD_NEG_SQL = """
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings WHERE len(embedding) > 0
), q AS (SELECT * FROM v WHERE vec_id < 10)
SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       ROUND(list_dot_product(v.e, q.e) / (v.nrm * q.nrm), 6) AS cosine,
       ROW_NUMBER() OVER (
         PARTITION BY q.vec_id
         ORDER BY ROUND(list_dot_product(v.e, q.e) / (v.nrm * q.nrm), 6) DESC,
                  v.vec_id) AS rank
FROM v CROSS JOIN q
WHERE v.label <> q.label AND v.nrm > 0 AND q.nrm > 0
QUALIFY rank <= 5
"""

PART_QUERIES["mine_hard_negatives"] = mine_hard_negatives
PART_ORACLES["mine_hard_negatives"] = MINE_HARD_NEG_SQL


def u_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union (sources/readers.py
    union_with_evolution): an early ingest wave carries
    (key, status, price-as-float32); a later wave drops status, widens
    price to double and adds a channel column. The union widens
    numerics per column, null-fills missing columns, and costs no
    shuffle (scan-local casts) — the long-lived-feed ingest case a
    plain unionByName rejects."""
    from ..sources.readers import union_with_evolution

    orders = _t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("float").alias("o_totalprice"),
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.concat(F.lit("ch"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "o_channel"
        ),
    )
    merged = union_with_evolution([v1, v2])
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("o_totalprice"),
        "o_channel",
    )


U_SCHEMA_EVOLUTION_SQL = """
SELECT o_orderkey, o_orderstatus,
       ROUND(CAST(CAST(o_totalprice AS REAL) AS DOUBLE), 6) AS o_totalprice,
       NULL AS o_channel
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, NULL AS o_orderstatus,
       ROUND(o_totalprice, 6) AS o_totalprice,
       'ch' || CAST(o_orderkey % 3 AS VARCHAR) AS o_channel
FROM orders WHERE o_orderkey % 2 = 1
"""

PART_QUERIES["u_union_schema_evolution"] = u_union_schema_evolution
PART_ORACLES["u_union_schema_evolution"] = U_SCHEMA_EVOLUTION_SQL


def a_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase, each step
    within 7 days of the previous) WITHOUT self-joins: two window
    passes over the SAME user partition compute the earliest
    qualifying timestamp of each step conditional on the previous —
    one shuffle total, vs the naive 3-way self-join that re-shuffles
    the fact per step. Output: users completing each prefix."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    week = F.expr("INTERVAL 7 DAYS")
    t1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    with_t1 = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") >= F.col("t1"))
            & (F.col("ts") <= F.col("t1") + week),
            F.col("ts"),
        )
    ).over(w)
    with_t2 = with_t1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("t2"))
            & (F.col("ts") <= F.col("t2") + week),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        with_t2.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(
            F.max(F.col("t1").isNotNull()).alias("s1"),
            F.max(F.col("t2").isNotNull()).alias("s2"),
            F.max(F.col("t3").isNotNull()).alias("s3"),
        )
    )
    return per_user.agg(
        F.sum(F.col("s1").cast("long")).alias("viewed"),
        F.sum(F.col("s2").cast("long")).alias("clicked_after_view"),
        F.sum(F.col("s3").cast("long")).alias("purchased_after_click"),
    )


A_FUNNEL_SQL = """
WITH t1s AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events
), t2s AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'click' AND ts >= t1
                   AND ts <= t1 + INTERVAL 7 DAY THEN ts END)
           OVER (PARTITION BY user_id) AS t2
  FROM t1s
), t3s AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'purchase' AND ts >= t2
                   AND ts <= t2 + INTERVAL 7 DAY THEN ts END)
           OVER (PARTITION BY user_id) AS t3
  FROM t2s
), per_user AS (
  SELECT user_id, MAX(t1 IS NOT NULL) AS s1, MAX(t2 IS NOT NULL) AS s2,
         MAX(t3 IS NOT NULL) AS s3
  FROM t3s GROUP BY user_id
)
SELECT CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
       CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT)
         AS clicked_after_view,
       CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT)
         AS purchased_after_click
FROM per_user
"""


def embedding_class_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (class prototype) of the embedding corpus,
    emitted as (label, dim, mean) rows: posexplode keeps the shuffle
    keyed on (label, dim) with map-side partial averaging — the
    prototype/centroid-init step of classifier-free labeling and
    k-means seeding. Rounded to 6 (summation order)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "x"
            ),
        )
        .groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 6).alias("mean"), F.count("*").alias("n"))
    )


EMB_PROTOTYPES_SQL = """
SELECT label, i - 1 AS dim, ROUND(AVG(e), 6) AS mean, COUNT(*) AS n
FROM (
  SELECT label, UNNEST(CAST(embedding AS DOUBLE[])) AS e,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings
)
GROUP BY label, i - 1
"""

PART_QUERIES["a_funnel_steps"] = a_funnel_steps
PART_ORACLES["a_funnel_steps"] = A_FUNNEL_SQL
PART_QUERIES["embedding_class_prototypes"] = embedding_class_prototypes
PART_ORACLES["embedding_class_prototypes"] = EMB_PROTOTYPES_SQL


def w_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-row median of value per user (outlier-immune
    smoothing): the interpolated
    percentile aggregate evaluated over a bounded ROWS window, keyed
    and ordered like every per-user window here (one user-hash
    exchange; the frame is 7 rows, so per-row cost is O(frame), not
    O(history))."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.expr(
            "percentile(value, 0.5) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"
        ), 6).alias("med7"),
    )


W_ROLLING_MEDIAN_SQL = """
SELECT user_id, event_id,
       ROUND(quantile_cont(value, 0.5) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
FROM events
"""


def a_percent_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative standing of each doc WITHIN its source: percent_rank
    over the (source)-partitioned length ordering — partitioned, so
    no global sort; the per-source quality-positioning signal used for
    source-conditional filtering. Ties on length are broken by doc_id
    in the ordering so both engines rank identically."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


A_PERCENT_RANK_SQL = """
SELECT doc_id, source, n_chars,
       ROUND(percent_rank() OVER (
         PARTITION BY source ORDER BY n_chars, doc_id), 6) AS pr
FROM documents
"""

PART_QUERIES["w_rolling_median"] = w_rolling_median
PART_ORACLES["w_rolling_median"] = W_ROLLING_MEDIAN_SQL
PART_QUERIES["a_percent_rank_docs"] = a_percent_rank_docs
PART_ORACLES["a_percent_rank_docs"] = A_PERCENT_RANK_SQL


def sample_weighted_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sampling without replacement: top-10 docs
    PER LANGUAGE under the Efraimidis-Spirakis key (weight = length) —
    the per-stratum variant of sample_weighted_docs, selected by a
    partitioned window rank instead of a global top-k (one shuffle on
    the stratum key; no global sort)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    from ..operators.dedupe import portable_hash60

    u = (portable_hash60(F.col("doc_id").cast("string")) + F.lit(1)).cast(
        "double"
    ) / F.lit(float(2**60))
    key = F.round(-F.log(u) / F.col("n_chars").cast("double"), 12)
    w = Window.partitionBy("lang").orderBy(
        F.col("sample_key"), F.col("doc_id")
    )
    return (
        docs.withColumn("sample_key", key)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "lang", "n_chars", "sample_key")
    )


SAMPLE_WEIGHTED_LANG_SQL = """
SELECT doc_id, lang, n_chars, sample_key FROM (
  SELECT doc_id, lang, n_chars,
         ROUND(
           -ln(CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     + 1) AS DOUBLE) / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE), 12) AS sample_key,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
           ROUND(
             -ln(CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       + 1) AS DOUBLE) / 1152921504606846976.0)
             / CAST(n_chars AS DOUBLE), 12), doc_id) AS rn
  FROM documents
) WHERE rn <= 10
"""


def a_chi_square_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of association between source and lang over the
    documents contingency table — the feature-selection statistic
    (is this feature independent of the label?). Observed cells via
    one (source, lang) aggregate; expected from the broadcast row/col
    margins; the statistic folds back to one row. Every join side
    after the first aggregate is margin-sized."""
    docs = _t(spark, sf_dir, "documents")
    obs = docs.groupBy("source", "lang").agg(F.count("*").alias("o"))
    row_m = obs.groupBy("source").agg(F.sum("o").alias("row_t"))
    col_m = obs.groupBy("lang").agg(F.sum("o").alias("col_t"))
    total = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(row_m), "source")
        .join(F.broadcast(col_m), "lang")
        .crossJoin(F.broadcast(total))
    )
    exp = F.col("row_t") * F.col("col_t") / F.col("n")
    chi = ((F.col("o") - exp) * (F.col("o") - exp)) / exp
    dims = cells.agg(
        F.round(F.sum(chi), 6).alias("chi2"),
        F.count_distinct("source").alias("r"),
        F.count_distinct("lang").alias("c"),
    )
    return dims.select(
        "chi2", ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof")
    )


A_CHI_SQUARE_SQL = """
WITH obs AS (
  SELECT source, lang, COUNT(*) AS o FROM documents GROUP BY source, lang
), rm AS (SELECT source, SUM(o) AS row_t FROM obs GROUP BY source),
cm AS (SELECT lang, SUM(o) AS col_t FROM obs GROUP BY lang),
t AS (SELECT SUM(o) AS n FROM obs),
cells AS (
  SELECT o.o, rm.row_t, cm.col_t, t.n
  FROM obs o JOIN rm USING (source) JOIN cm USING (lang) CROSS JOIN t
)
SELECT ROUND(SUM((o - row_t * col_t / n) * (o - row_t * col_t / n)
                 / (row_t * col_t / n)), 6) AS chi2,
       CAST(((SELECT COUNT(DISTINCT source) FROM obs) - 1)
            * ((SELECT COUNT(DISTINCT lang) FROM obs) - 1) AS BIGINT) AS dof
FROM cells
"""

PART_QUERIES["sample_weighted_per_lang"] = sample_weighted_per_lang
PART_ORACLES["sample_weighted_per_lang"] = SAMPLE_WEIGHTED_LANG_SQL
PART_QUERIES["a_chi_square_assoc"] = a_chi_square_assoc
PART_ORACLES["a_chi_square_assoc"] = A_CHI_SQUARE_SQL


def a_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping
    combinations in one pass — completes the grouping-sets family
    (GROUPING SETS and ROLLUP are already registered). grouping_id
    disambiguates NULL-as-subtotal from NULL data in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
            .alias("revenue"),
            F.count("*").alias("n"),
            F.grouping_id().alias("gid"),
        )
    )


A_CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def o_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group WITH ties kept: rank() (not row_number) over
    (order, price desc) — the semantics a keep-best report needs when
    equal-priced lines must not be dropped arbitrarily. Same one-
    shuffle window shape as the row_number top-k; output size is data-
    dependent (ties expand it), which is the semantic point."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc()
    )
    return (
        li.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 6).alias("price"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


O_TOPK_TIES_SQL = """
SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 6) AS price,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         RANK() OVER (PARTITION BY l_orderkey
                      ORDER BY l_extendedprice DESC) AS rk
  FROM lineitem
) WHERE rk <= 3
"""

PART_QUERIES["a_cube_revenue"] = a_cube_revenue
PART_ORACLES["a_cube_revenue"] = A_CUBE_SQL
PART_QUERIES["o_topk_with_ties"] = o_topk_with_ties
PART_ORACLES["o_topk_with_ties"] = O_TOPK_TIES_SQL
PART_QUERIES["video_frame_sample_mjpeg"] = video_frame_sample_mjpeg
PART_ORACLES["video_frame_sample_mjpeg"] = VIDEO_FRAME_SQL
