"""Round-6 query-inventory section (see plans/inventory.py for the
registry discipline). This module is NOT a public entry point —
plans.inventory star-imports it and owns the DRIVER_WINDOW literal and
the merged QUERIES/ORACLES registries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.readers import read_table

    return read_table(spark, sf_dir, name)


from .inv_corpus import DEDUP_NGRAM_SQL  # noqa: E402

PART_QUERIES: dict = {}
PART_ORACLES: dict = {}

# ===========================================================================
# round 6: incremental near-dup — ingest wave vs persisted MinHash index
# ===========================================================================


def dedup_minhash_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-wave near-dup: docs with ``doc_id % 3 == 2`` arrive as a
    new wave and are probed against a MinHash-LSH index built from the
    rest of the corpus (operators/dedupe.minhash_lsh_index /
    minhash_lsh_incremental) — the historical text is shingled exactly
    once, wave buckets broadcast, zero index-side shuffle.

    ORACLE: exact shingle-Jaccard pairs restricted to pairs touching
    the wave. Equality inherits ``dedup_minhash_lsh_docs``' recall
    argument (same seeded family, planted near-dups at J ≥ 0.8, banded
    miss ≤ 2e-4/pair), and additionally checks the batch/incremental
    split logic: index-index pairs must NOT appear, and the origin
    label must agree with the modulo split.
    """
    from ..operators.dedupe import minhash_lsh_incremental, minhash_lsh_index

    docs = _t(spark, sf_dir, "documents")
    index = minhash_lsh_index(docs.filter(F.col("doc_id") % 3 != 2))
    wave = docs.filter(F.col("doc_id") % 3 == 2)
    pairs = minhash_lsh_incremental(index, minhash_lsh_index(wave))
    return pairs.orderBy("id_a", "id_b")


DEDUP_MINHASH_INCREMENTAL_SQL = f"""
SELECT id_a, id_b, jaccard,
       CASE WHEN id_a % 3 = 2 AND id_b % 3 = 2 THEN 'wave-wave'
            ELSE 'wave-index' END AS origin
FROM ({DEDUP_NGRAM_SQL})
WHERE id_a % 3 = 2 OR id_b % 3 = 2
"""

PART_QUERIES["dedup_minhash_incremental_docs"] = dedup_minhash_incremental_docs
PART_ORACLES["dedup_minhash_incremental_docs"] = DEDUP_MINHASH_INCREMENTAL_SQL


# ===========================================================================
# round 6: Z-order layout — Morton key for multi-column data skipping
# ===========================================================================

_Z_BITS = 8


def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (user_id, value) — the
    layout primitive behind multi-column file skipping
    (operators/layout.zorder_value; Delta/Iceberg OPTIMIZE ZORDER BY
    analogue). Pure Column arithmetic: 1-row broadcast min/max, linear
    scaling into 2^8 cells, 16 shift-and-mask interleave terms.

    ORACLE: ``LAYOUT_ZORDER_SQL`` replays the identical IEEE double
    sequence (subtract → divide → multiply → floor) and the identical
    bit interleave, so the hash covers every Morton bit of every row —
    not a sampled projection. The skip-power of the layout itself is
    pinned by tests/test_layout.py with real parquet footers.
    """
    from ..operators.layout import zorder_value

    ev = _t(spark, sf_dir, "events")
    return (
        zorder_value(ev.select("event_id", "user_id", "value"), ["user_id", "value"], bits=_Z_BITS)
        .select("event_id", "zval")
        .orderBy("event_id")
    )


def _zorder_interleave_sql(cells: list[str], bits: int) -> str:
    terms = []
    for i in range(bits):
        for j, c in enumerate(cells):
            terms.append(f"((({c} >> {i}) & 1) << {i * len(cells) + j})")
    return " + ".join(terms)


def _zorder_cell_sql(x: str, lo: str, hi: str, bits: int) -> str:
    span = f"(CAST({hi} AS DOUBLE) - CAST({lo} AS DOUBLE))"
    ratio = f"((CAST({x} AS DOUBLE) - CAST({lo} AS DOUBLE)) / {span})"
    return (
        f"CASE WHEN {x} IS NULL OR {span} = 0 THEN 0 "
        f"ELSE CAST(FLOOR({ratio} * {float((1 << bits) - 1)}) AS BIGINT) END"
    )


LAYOUT_ZORDER_SQL = f"""
WITH s AS (
  SELECT MIN(user_id) AS lou, MAX(user_id) AS hiu,
         MIN(value)   AS lov, MAX(value)   AS hiv
  FROM events
), c AS (
  SELECT e.event_id,
         {_zorder_cell_sql("e.user_id", "s.lou", "s.hiu", _Z_BITS)} AS cu,
         {_zorder_cell_sql("e.value", "s.lov", "s.hiv", _Z_BITS)} AS cv
  FROM events e, s
)
SELECT event_id, {_zorder_interleave_sql(["cu", "cv"], _Z_BITS)} AS zval
FROM c
"""

PART_QUERIES["layout_zorder_events"] = layout_zorder_events
PART_ORACLES["layout_zorder_events"] = LAYOUT_ZORDER_SQL


# ===========================================================================
# round 6: BPE tokenizer training — the corpus→vocab reduction + pair stats
# ===========================================================================


def bpe_pair_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 adjacent symbol pairs (the statistic BPE training argmaxes
    over, at merge step 0) across the documents corpus, weighted by word
    frequency (functions/bpe.word_freqs → to_symbols → pair_counts).

    Scale shape under test: the ONLY corpus-sized stage is the word
    count (map-side combine → |vocab| rows); the pair explode runs on
    the vocab table and shuffles |alphabet|² ≈ nothing. All JVM-side —
    split/slice/arrays_zip/explode — no UDF anywhere.

    ORACLE: ``BPE_PAIR_COUNTS_SQL`` replays the identical normalize →
    word-count → char-pair (+ ``</w>`` terminal) pipeline; (cnt DESC,
    sym_a, sym_b) is a total order so the LIMIT is deterministic.
    """
    from ..functions.bpe import pair_counts, to_symbols, word_freqs

    docs = _t(spark, sf_dir, "documents")
    vocab = word_freqs(docs).select(to_symbols("word").alias("syms"), "freq")
    return (
        pair_counts(vocab)
        .orderBy(F.col("cnt").desc(), F.col("sym_a").asc(), F.col("sym_b").asc())
        .limit(40)
    )


BPE_PAIR_COUNTS_SQL = """
WITH wf AS (
  SELECT w, COUNT(*) AS freq
  FROM (
    SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
    FROM documents
  )
  WHERE w <> ''
  GROUP BY w
), idx AS (
  SELECT w, freq, unnest(range(length(w))) AS i FROM wf
), pairs AS (
  SELECT substr(w, CAST(i AS INT) + 1, 1) AS sym_a,
         CASE WHEN CAST(i AS INT) + 2 <= length(w)
              THEN substr(w, CAST(i AS INT) + 2, 1) ELSE '</w>' END AS sym_b,
         freq
  FROM idx
)
SELECT sym_a, sym_b, CAST(SUM(freq) AS BIGINT) AS cnt
FROM pairs GROUP BY sym_a, sym_b
ORDER BY cnt DESC, sym_a, sym_b LIMIT 40
"""

PART_QUERIES["bpe_pair_counts_docs"] = bpe_pair_counts_docs
PART_ORACLES["bpe_pair_counts_docs"] = BPE_PAIR_COUNTS_SQL


# ===========================================================================
# round 6: geo — grid-bucketed radius join (spatial pairing, no all-pairs)
# ===========================================================================


def geo_radius_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (probe, site) point pairs within 50 great-circle km
    (operators/geo.radius_join_banded — the REGISTERED geo path since
    round 7): sites bucketed once into latitude-banded, evenly-tiled
    longitude cells, probes exploded to ≤ 9 (band, cell) keys,
    hash-join on the key, exact haversine prune. The banded grid is
    strictly safer than the fixed grid (no ``max_abs_lat`` contract to
    violate), measured 2.06× faster on wide-latitude data (BASELINE.md
    round 6), and since round 7 wrap-indexes longitude cells so
    antimeridian pairs are found. The cross product never materializes
    — the plan is two scans plus one equi-join (plan-pinned: no
    nested-loop/cartesian anywhere).

    Events carry no coordinates, so both engines derive identical
    synthetic ones (lat = 40 + (user_id%1000)/100 ∈ [40,50),
    lon = (event_id%1000)/100 ∈ [0,10)) — integer-derived doubles, so
    the inputs are bit-identical and the oracle replays the same IEEE
    trig sequence; distances round to 6 dp before the radius filter.

    ORACLE: ``GEO_RADIUS_JOIN_SQL`` — brute-force all-pairs haversine,
    so hash equality proves the banded expansion loses no qualifying
    pair (the radius-join analogue of the LSH-vs-exact recall proofs).
    """
    from ..operators.geo import radius_join_banded

    ev = _t(spark, sf_dir, "events")

    def pts(df: DataFrame) -> DataFrame:
        return df.select(
            "event_id",
            (F.lit(40.0) + (F.col("user_id") % 1000) / 100.0).alias("lat"),
            ((F.col("event_id") % 1000) / 100.0).alias("lon"),
        )

    site = pts(ev.filter(F.col("event_id") % 20 == 0))
    probe = pts(ev.filter(F.col("event_id") % 20 == 10))
    return (
        radius_join_banded(probe, site, 50.0)
        .select(
            F.col("event_id_l").alias("probe_id"),
            F.col("event_id_r").alias("site_id"),
            "distance_km",
        )
        .orderBy("probe_id", "site_id")
    )


GEO_RADIUS_JOIN_SQL = """
WITH p AS (
  SELECT event_id, 40.0 + (user_id % 1000) / 100.0 AS lat,
         (event_id % 1000) / 100.0 AS lon
  FROM events WHERE event_id % 20 = 10
), s AS (
  SELECT event_id, 40.0 + (user_id % 1000) / 100.0 AS lat,
         (event_id % 1000) / 100.0 AS lon
  FROM events WHERE event_id % 20 = 0
), d AS (
  SELECT p.event_id AS probe_id, s.event_id AS site_id,
         ROUND((2.0 * 6371.0088) * ASIN(SQRT(
           SIN(RADIANS(s.lat - p.lat) / 2.0) * SIN(RADIANS(s.lat - p.lat) / 2.0)
           + COS(RADIANS(p.lat)) * COS(RADIANS(s.lat))
             * SIN(RADIANS(s.lon - p.lon) / 2.0) * SIN(RADIANS(s.lon - p.lon) / 2.0)
         )), 6) AS distance_km
  FROM p CROSS JOIN s
)
SELECT probe_id, site_id, distance_km FROM d WHERE distance_km <= 50.0
"""

PART_QUERIES["geo_radius_join_events"] = geo_radius_join_events
PART_ORACLES["geo_radius_join_events"] = GEO_RADIUS_JOIN_SQL


# ===========================================================================
# round 6: information-theoretic quality signals — char entropy per doc
# ===========================================================================


def quality_entropy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits/char, normalized 37-symbol alphabet) per
    document plus a corpus keep-flag at the classic gibberish band
    (functions/text.char_entropy): natural prose ~3.4-4.2, repeated-
    char spam → 0, keyboard mash → log2(37).

    Scale shape: 37 length-difference codegen terms — NO explode (the
    naive per-char unnest would shuffle 100 TB of single characters),
    no UDF, no shuffle; the whole signal rides the scan. Uses the
    HOISTED form (functions/text.add_char_entropy): the normalization
    regex evaluates once per row and the keep-flag derives from the
    projected entropy column, not a re-expansion — the inline form
    re-evaluates the regex per reference (measured 2.7× slower,
    BASELINE.md round 6), and both engines' mirrors hoist identically.

    ORACLE: ``QUALITY_ENTROPY_SQL`` is generated from the SAME alphabet
    loop (functions/text.char_entropy_sql) over a normalized-once
    subquery, so the 37 float terms sum in the same order and the
    entropy is bit-identical, not approximately equal.
    """
    from ..functions.text import add_char_entropy

    docs = _t(spark, sf_dir, "documents")
    out = add_char_entropy(docs, "text", "entropy")
    return out.select(
        "doc_id",
        "entropy",
        ((F.col("entropy") >= 2.5) & (F.col("entropy") <= 4.8))
        .cast("int")
        .alias("entropy_keep"),
    ).orderBy("doc_id")


def _quality_entropy_sql() -> str:
    from ..functions.text import char_entropy_sql

    e = char_entropy_sql("__norm", assume_normalized=True)
    return f"""
WITH normed AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS __norm
  FROM documents
), scored AS (
  SELECT doc_id, {e} AS entropy FROM normed
)
SELECT doc_id, entropy,
       CAST(entropy >= 2.5 AND entropy <= 4.8 AS INT) AS entropy_keep
FROM scored
"""


QUALITY_ENTROPY_SQL = _quality_entropy_sql()

PART_QUERIES["quality_entropy_docs"] = quality_entropy_docs
PART_ORACLES["quality_entropy_docs"] = QUALITY_ENTROPY_SQL


def geo_radius_join_banded_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latitude-banded variant of the radius join (operators/geo.
    radius_join_banded): per-band longitude cell widths, so a dataset
    spanning wide latitudes keeps tight cells everywhere (fixed grid
    measured 2.1× slower on a 20°–83° cloud, BASELINE.md round 6).
    Derived coordinates span −60°..80° to exercise southern-hemisphere,
    equator-crossing, and near-polar bands.

    ORACLE: brute-force all-pairs haversine over the same derivation —
    hash equality proves the banded expansion loses no qualifying pair.
    Lives in EXTRA: since round 7 the driver row geo_radius_join_events
    runs this same banded implementation (on a narrow-lat cloud); this
    row keeps the wide-latitude band coverage at the identical bar.
    """
    from ..operators.geo import radius_join_banded

    ev = _t(spark, sf_dir, "events")

    def pts(df: DataFrame) -> DataFrame:
        return df.select(
            "event_id",
            ((F.col("user_id") * 7 % 1400) / 10.0 - 60.0).alias("lat"),
            ((F.col("event_id") % 1000) / 100.0).alias("lon"),
        )

    site = pts(ev.filter(F.col("event_id") % 20 == 0))
    probe = pts(ev.filter(F.col("event_id") % 20 == 10))
    return (
        radius_join_banded(probe, site, 120.0)
        .select(
            F.col("event_id_l").alias("probe_id"),
            F.col("event_id_r").alias("site_id"),
            "distance_km",
        )
        .orderBy("probe_id", "site_id")
    )


GEO_RADIUS_JOIN_BANDED_SQL = """
WITH p AS (
  SELECT event_id, (user_id * 7 % 1400) / 10.0 - 60.0 AS lat,
         (event_id % 1000) / 100.0 AS lon
  FROM events WHERE event_id % 20 = 10
), s AS (
  SELECT event_id, (user_id * 7 % 1400) / 10.0 - 60.0 AS lat,
         (event_id % 1000) / 100.0 AS lon
  FROM events WHERE event_id % 20 = 0
), d AS (
  SELECT p.event_id AS probe_id, s.event_id AS site_id,
         ROUND((2.0 * 6371.0088) * ASIN(SQRT(
           SIN(RADIANS(s.lat - p.lat) / 2.0) * SIN(RADIANS(s.lat - p.lat) / 2.0)
           + COS(RADIANS(p.lat)) * COS(RADIANS(s.lat))
             * SIN(RADIANS(s.lon - p.lon) / 2.0) * SIN(RADIANS(s.lon - p.lon) / 2.0)
         )), 6) AS distance_km
  FROM p CROSS JOIN s
)
SELECT probe_id, site_id, distance_km FROM d WHERE distance_km <= 120.0
"""

PART_QUERIES["geo_radius_join_banded_events"] = geo_radius_join_banded_events
PART_ORACLES["geo_radius_join_banded_events"] = GEO_RADIUS_JOIN_BANDED_SQL


# ===========================================================================
# round 6: trained n-gram language ID (Cavnar-Trenkle out-of-place)
# ===========================================================================

_LID_K = 40


def langid_ngram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train character-trigram language profiles on the documents
    corpus and classify every document with the out-of-place measure
    (functions/text.langid_train / langid_score) — Cavnar & Trenkle
    1994, the classic pre-fastText language ID.

    NOTE the honest caveat: the synthetic corpus's ``lang`` labels are
    decorative (every document draws from one English-ish vocabulary),
    so self-train accuracy is meaningless HERE; the planted
    multilingual pytest pins real discrimination. What this row proves
    is the distributed construction: one trigram explode per side
    (map-side combined), per-doc top-k via WindowGroupLimit, broadcast
    model join, argmin with total-order ties.

    The two-explode form is KEPT deliberately (round-7 measured
    negative result, BASELINE.md): fusing both sides onto one pinned
    explode (functions/text.langid_train_score) lost the ×100 A/B —
    recomputing the cheap codegen explode beats materializing the
    combine-sized (doc, gram, cnt) intermediate (41.0 s vs 47.3 s
    parquet stage; a localCheckpoint pin OOM-pressures the block
    manager outright).

    ORACLE: ``LANGID_NGRAM_SQL`` replays trigrams → ranked profiles →
    out-of-place sum → argmin with the identical tiebreaks.
    """
    from ..functions.text import langid_score, langid_train

    docs = _t(spark, sf_dir, "documents")
    prof = langid_train(docs, k=_LID_K)
    return langid_score(docs, prof, k=_LID_K).orderBy("doc_id")


LANGID_NGRAM_SQL = f"""
WITH normed AS (
  SELECT doc_id, lang,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS n
  FROM documents
), grams AS (
  SELECT doc_id, lang, substr(n, CAST(i AS INT) + 1, 3) AS gram
  FROM (SELECT doc_id, lang, n, unnest(range(length(n) - 2)) AS i
        FROM normed WHERE length(n) >= 3)
), lang_prof AS (
  SELECT lang, gram,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY COUNT(*) DESC, gram) AS lrank
  FROM grams GROUP BY lang, gram
  QUALIFY lrank <= {_LID_K}
), doc_prof AS (
  SELECT doc_id, gram,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY COUNT(*) DESC, gram) AS drank
  FROM grams GROUP BY doc_id, gram
  QUALIFY drank <= {_LID_K}
), scored AS (
  SELECT d.doc_id, l.lang,
         CAST(SUM(COALESCE(ABS(d.drank - p.lrank), {_LID_K})) AS BIGINT) AS distance
  FROM doc_prof d
  CROSS JOIN (SELECT DISTINCT lang FROM lang_prof) l
  LEFT JOIN lang_prof p ON p.lang = l.lang AND p.gram = d.gram
  GROUP BY d.doc_id, l.lang
)
SELECT doc_id, lang AS lang_pred, distance
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY distance, lang) = 1
"""

PART_QUERIES["langid_ngram_docs"] = langid_ngram_docs
PART_ORACLES["langid_ngram_docs"] = LANGID_NGRAM_SQL


# ===========================================================================
# round 6: exact quantile by histogram refinement — selection, no sort
# ===========================================================================

_EQ_QS = [0.01, 0.25, 0.5, 0.9, 0.99]


def a_exact_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact l_extendedprice quantiles WITHOUT sorting the fact table
    (operators/sketches.exact_quantiles_histogram): ONE shared
    count/min/max aggregate + ONE shared first-pass histogram route all
    five quantiles to their buckets, then each resolves with a bounded
    sort in its own narrowed interval — total corpus scans are O(1) in
    the number of quantiles. The 20k collect threshold keeps the
    histogram machinery exercised at sf0.01 (60k rows) rather than
    degenerating to a single bounded sort. (A first registration ran
    the SINGLE-q loop per quantile with pedagogically tiny parameters —
    64 buckets / 500-row threshold — which forced ~8 corpus scans per
    quantile and benched 15.8× vs the mirror at ×100; the shared-pass
    batch form is the scale shape. BASELINE.md round 6.)

    ORACLE: DuckDB ``quantile_disc`` per q — the operator is exact by
    construction, so the hash proves the bucket walk/before-count
    bookkeeping against the engine-native sort-based answer.
    """
    from ..operators.sketches import exact_quantiles_histogram

    li = _t(spark, sf_dir, "lineitem")
    rows = exact_quantiles_histogram(
        li, "l_extendedprice", _EQ_QS, buckets=8192, collect_threshold=20_000
    )
    return spark.createDataFrame(rows, "q double, value double").orderBy("q")


# q literal cast to DOUBLE: DuckDB types bare 0.25 as DECIMAL(3,2),
# which the driver's type-sensitive hash rejects (TYPEBAD audit class)
A_EXACT_QUANTILE_SQL = " UNION ALL ".join(
    f"SELECT CAST({q} AS DOUBLE) AS q, quantile_disc(CAST(l_extendedprice AS DOUBLE), {q}) AS value FROM lineitem"
    for q in _EQ_QS
)

PART_QUERIES["a_exact_quantile_histogram"] = a_exact_quantile_histogram
PART_ORACLES["a_exact_quantile_histogram"] = A_EXACT_QUANTILE_SQL
