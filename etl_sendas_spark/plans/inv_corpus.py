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
    normalized_text,
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


# ===========================================================================
# text analysis / dedup / similarity (documents, embeddings)
# ===========================================================================

def text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language id + quality heuristics + token count + fingerprint —
    the per-document pass of a corpus pipeline, all Column exprs."""
    docs = _t(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["mean_word_len"].alias("mean_word_len"),
        lang_id(F.col("text")).alias("lang_pred"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"
_EN = "['the','and','of','to','in','is','that','for','with','on']"
_ES = "['el','la','de','que','y','en','los','del','se','por']"

TEXT_FEATURES_SQL = f"""
SELECT doc_id,
       n_tokens,
       ROUND(COALESCE(n_punct / NULLIF(n_chars, 0), 0.0), 6) AS punct_ratio,
       ROUND(COALESCE(stop_hits / NULLIF(CAST(n_tokens AS DOUBLE), 0), 0.0), 6) AS stopword_ratio,
       ROUND(COALESCE(alpha_chars / NULLIF(CAST(n_tokens AS DOUBLE), 0), 0.0), 6) AS mean_word_len,
       CASE WHEN en_hits = 0 AND es_hits = 0 THEN 'unknown'
            WHEN en_hits >= es_hits THEN 'en' ELSE 'es' END AS lang_pred,
       md5({_NORM_SQL}) AS fingerprint
FROM (
  SELECT doc_id, text,
         CASE WHEN {_NORM_SQL} = '' THEN 0 ELSE len({_TOKS_SQL}) END AS n_tokens,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(len(list_filter({_TOKS_SQL}, t -> list_contains({_EN}, t) OR list_contains({_ES}, t))) AS DOUBLE) AS stop_hits,
         CAST(length(replace({_NORM_SQL}, ' ', '')) AS DOUBLE) AS alpha_chars,
         len(list_filter({_TOKS_SQL}, t -> list_contains({_EN}, t))) AS en_hits,
         len(list_filter({_TOKS_SQL}, t -> list_contains({_ES}, t))) AS es_hits
  FROM documents
)
"""


def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus prep flow as ONE lazy plan: quality-filter (token
    floor + stopword ratio) → exact dedup (min doc_id per content
    fingerprint) → per-(source, language) stats. Everything is Column
    exprs + one dedup shuffle + one agg shuffle; at 100 TB the quality
    filter prunes before any shuffle, and the fingerprint groupBy is
    the only pass over full text."""
    docs = _t(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        F.col("text"),
        q["n_tokens"].alias("n_tokens"),
        q["stopword_ratio"].alias("stopword_ratio"),
        lang_id(F.col("text")).alias("lang"),
    ).filter((F.col("n_tokens") >= 10) & (F.col("stopword_ratio") >= 0.05))
    kept = exact_dedup(scored, text_col="text", id_col="doc_id")
    return (
        kept.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.sum("n_tokens") / F.count("*"), 4).alias("avg_tokens"),
        )
    )


CORPUS_PREP_SQL = f"""
WITH scored AS (
  SELECT doc_id, source, text,
         CASE WHEN {_NORM_SQL} = '' THEN 0 ELSE len({_TOKS_SQL}) END AS n_tokens,
         ROUND(COALESCE(
           CAST(len(list_filter({_TOKS_SQL}, t -> list_contains({_EN}, t) OR list_contains({_ES}, t))) AS DOUBLE)
             / NULLIF(CAST(CASE WHEN {_NORM_SQL} = '' THEN 0 ELSE len({_TOKS_SQL}) END AS DOUBLE), 0),
           0.0), 6) AS stopword_ratio,
         len(list_filter({_TOKS_SQL}, t -> list_contains({_EN}, t))) AS en_hits,
         len(list_filter({_TOKS_SQL}, t -> list_contains({_ES}, t))) AS es_hits
  FROM documents
), filtered AS (
  SELECT doc_id, source, text, n_tokens,
         CASE WHEN en_hits = 0 AND es_hits = 0 THEN 'unknown'
              WHEN en_hits >= es_hits THEN 'en' ELSE 'es' END AS lang
  FROM scored
  WHERE n_tokens >= 10 AND stopword_ratio >= 0.05
), kept AS (
  SELECT * FROM filtered
  WHERE doc_id IN (SELECT MIN(doc_id) FROM filtered GROUP BY md5({_NORM_SQL}))
)
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 4) AS avg_tokens
FROM kept
GROUP BY source, lang
"""


def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sample: per-language quotas keyed
    on a portable 60-bit hash of doc_id — reproducible across engines
    and runs, pure scan-local filter (no shuffle, no RNG), so at 100 TB
    the sample costs one pushdown-friendly pass."""
    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        id_col="doc_id",
        stratum_col="lang",
        rates={"en": 0.3, "es": 0.6},
        default_rate=0.1,
    )
    return out.select("doc_id", "lang", "source")


SAMPLE_STRATIFIED_SQL = """
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 <
      CASE lang WHEN 'en' THEN 300 WHEN 'es' THEN 600 ELSE 100 END
"""


def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: tag-replace emails / SSN-shapes / phone-shapes
    and emit per-pattern hit counts plus an md5 of the redacted text (the
    oracle-checkable witness that the *content* matches, not just the
    counts). All chained regexp expressions — scan-speed at corpus scale."""
    docs = _t(spark, sf_dir, "documents")
    cnt = pii_counts(F.col("text"))
    red = pii_redact(F.col("text"))
    return docs.select(
        "doc_id",
        cnt["email"].alias("n_emails"),
        cnt["ssn"].alias("n_ssns"),
        cnt["phone"].alias("n_phones"),
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    )


_PII_EMAIL, _PII_SSN, _PII_PHONE = (p[1] for p in PII_PATTERNS)
PII_REDACT_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_SSN}')) AS BIGINT) AS n_ssns,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(length(red) AS BIGINT) AS redacted_len,
       md5(red) AS redacted_md5
FROM (
  SELECT doc_id, text,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_SSN}', '<SSN>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g') AS red
  FROM documents
)
"""


def quality_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicated word 2- and
    3-grams per document, entirely as codegen'd array expressions (no
    explode → no shuffle; the whole feature is one narrow scan)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        repeated_ngram_ratio(F.col("text"), 2).alias("dup_2gram_ratio"),
        repeated_ngram_ratio(F.col("text"), 3).alias("dup_3gram_ratio"),
    )


REPEATED_NGRAM_SQL = f"""
SELECT doc_id,
       ROUND(CASE WHEN len(bg) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
             END, 6) AS dup_2gram_ratio,
       ROUND(CASE WHEN len(tg) = 0 THEN 0.0
                  ELSE 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg)
             END, 6) AS dup_3gram_ratio
FROM (
  SELECT doc_id,
         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bg,
         list_transform(range(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tg
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
)
"""


# Simplified byte-pair pre-tokenizer (GPT-2 family without the
# RE2-unsupported lookahead): letter runs, digit runs, punctuation runs,
# each with an optional leading space. Counts approximate BPE token
# budgets ~2× tighter than whitespace splitting on prose.
_BPE_PRETOK = r" ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"


def scalar_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting: whitespace tokens vs BPE-ish pre-tokenizer
    matches per document plus the chars-per-token ratio — the numbers a
    training pipeline needs to pack sequences. Pure regexp_count: one
    codegen'd scan, identical RE2/Java-regex semantics."""
    docs = _t(spark, sf_dir, "documents")
    bpe = F.regexp_count(F.col("text"), F.lit(_BPE_PRETOK)).cast("long")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.round(
            F.coalesce(
                F.length("text").cast("double")
                / F.when(bpe > 0, bpe.cast("double")),
                F.lit(0.0),
            ),
            6,
        ).alias("chars_per_bpe_token"),
    )


SCALAR_BPE_SQL = f"""
SELECT doc_id,
       CASE WHEN {_NORM_SQL} = '' THEN 0 ELSE len({_TOKS_SQL}) END AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_PRETOK}')) AS BIGINT) AS n_bpe_tokens,
       ROUND(COALESCE(CAST(length(text) AS DOUBLE)
             / NULLIF(CAST(len(regexp_extract_all(text, '{_BPE_PRETOK}')) AS DOUBLE), 0), 0.0), 6)
         AS chars_per_bpe_token
FROM documents
"""

_CHUNK, _STRIDE = 64, 48  # tokens per chunk / chunk stride (16 overlap)


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: split each document into {chunk}-token chunks on
    a {stride}-token stride (overlap keeps context at boundaries) — the
    explode that turns a document corpus into training sequences. All
    array expressions + one posexplode: no shuffle, no Python; output
    scales with total tokens, which is exactly the 100 TB shape."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(normalized_text(F.col("text")), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(_STRIDE))
    ex = docs.select(
        "doc_id", toks.alias("toks"), F.explode(starts).alias("s")
    )
    chunk = F.slice(F.col("toks"), F.col("s") + 1, _CHUNK)
    return ex.select(
        "doc_id",
        (F.col("s") / _STRIDE).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


CHUNK_DOCS_SQL = f"""
SELECT doc_id,
       CAST(s / {_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, s + 1, s + {_CHUNK})) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(toks, s + 1, s + {_CHUNK}), ' ')) AS chunk_md5
FROM (
  SELECT doc_id, toks, unnest(range(0, len(toks), {_STRIDE})) AS s
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
)
"""


def corpus_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data ladder as ONE lazy Catalyst plan:
    quality gate (token floor, stopword ratio, 2-gram repetition) →
    PII redaction → exact dedup on redacted content → deterministic
    per-language stratified sample → 64/48 sequence chunking →
    per-(lang, source) manifest. Everything before the dedup groupBy is
    a scan-local Column expression, so at 100 TB the only full-text
    shuffle is the fingerprint dedup and the quality gate prunes before
    it; the sample is a pushdown-friendly hash filter; chunk explosion
    happens after BOTH prunes. This is the composition the individual
    queries exist to serve."""
    docs = _t(spark, sf_dir, "documents")
    q = quality_features(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        q["n_tokens"].alias("n_tokens"),
        q["stopword_ratio"].alias("stopword_ratio"),
        repeated_ngram_ratio(F.col("text"), 2).alias("dup2"),
    ).filter(
        (F.col("n_tokens") >= 10)
        & (F.col("stopword_ratio") >= 0.05)
        & (F.col("dup2") <= 0.5)
    )
    # Shuffle METADATA, not text (optimization guide §2.3/§8): the
    # manifest needs only token COUNTS downstream of the dedup, and
    # ``size(slice(toks, s+1, CHUNK))`` ≡ ``least(CHUNK, n - s)`` for
    # every stride start s ∈ [0, n) — so the fingerprint AND the token
    # count are computed scan-locally and the dedup exchange carries
    # (doc_id, lang, source, md5, n) instead of the redacted text
    # (~40 B/row vs the full document; plan diff in
    # plans/r12/corpus_training_manifest_*.txt). Result-identical: the
    # chunk-size arithmetic is exact, including the n=1 empty-normalized
    # edge (split('', ' ') → [''] on both formulations).
    red_norm = normalized_text(pii_redact(F.col("text")))
    narrow = scored.select(
        "doc_id",
        "lang",
        "source",
        F.md5(red_norm).alias("__fp"),
        F.size(F.split(red_norm, " ")).alias("__n"),
    )
    w = Window.partitionBy("__fp")
    deduped = narrow.withColumn(
        "keep", F.min("doc_id").over(w) == F.col("doc_id")
    ).filter("keep")
    sampled = stratified_sample(
        deduped,
        id_col="doc_id",
        stratum_col="lang",
        rates={"en": 0.5, "es": 0.5},
        default_rate=0.2,
    )
    ex = sampled.select(
        "doc_id", "lang", "source", "__n",
        F.explode(
            F.sequence(F.lit(0), F.col("__n") - 1, F.lit(_STRIDE))
        ).alias("s"),
    )
    chunks = ex.select(
        "doc_id", "lang", "source",
        F.least(F.lit(_CHUNK), F.col("__n") - F.col("s")).alias("chunk_toks"),
    )
    return chunks.groupBy("lang", "source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.sum("chunk_toks").alias("total_tokens"),
    )


def _norm_of(e: str) -> str:
    return f"trim(regexp_replace(lower({e}), '[^a-z0-9]+', ' ', 'g'))"


CORPUS_MANIFEST_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang, source, text,
         CASE WHEN {_NORM_SQL} = '' THEN 0 ELSE len({_TOKS_SQL}) END AS n_tokens,
         ROUND(COALESCE(
           CAST(len(list_filter({_TOKS_SQL}, t -> list_contains({_EN}, t) OR list_contains({_ES}, t))) AS DOUBLE)
             / NULLIF(CAST(CASE WHEN {_NORM_SQL} = '' THEN 0 ELSE len({_TOKS_SQL}) END AS DOUBLE), 0),
           0.0), 6) AS stopword_ratio,
         ROUND(CASE WHEN len(bg) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
               END, 6) AS dup2
  FROM (
    SELECT *, list_transform(range(1, len({_TOKS_SQL})),
                             i -> {_TOKS_SQL}[i] || ' ' || {_TOKS_SQL}[i+1]) AS bg
    FROM documents
  )
), redacted AS (
  SELECT doc_id, lang, source,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{{email}}', '<EMAIL>', 'g'),
             '{{ssn}}', '<SSN>', 'g'),
           '{{phone}}', '<PHONE>', 'g') AS red
  FROM scored
  WHERE n_tokens >= 10 AND stopword_ratio >= 0.05 AND dup2 <= 0.5
), deduped AS (
  SELECT * FROM redacted
  WHERE doc_id IN (SELECT MIN(doc_id) FROM redacted GROUP BY md5({_norm_of('red')}))
), sampled AS (
  SELECT * FROM deduped
  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 <
        CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 500 ELSE 200 END
), chunks AS (
  SELECT doc_id, lang, source,
         len(list_slice(toks, s + 1, s + {_CHUNK})) AS chunk_toks
  FROM (
    SELECT doc_id, lang, source, toks,
           unnest(range(0, len(toks), {_STRIDE})) AS s
    FROM (SELECT doc_id, lang, source, {_norm_of('red')} AS norm_red,
                 string_split({_norm_of('red')}, ' ') AS toks
          FROM sampled)
  )
)
SELECT lang, source,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_chunks,
       CAST(SUM(chunk_toks) AS BIGINT) AS total_tokens
FROM chunks
GROUP BY lang, source
""".replace("{email}", PII_PATTERNS[0][1]).replace(
    "{ssn}", PII_PATTERNS[1][1]
).replace("{phone}", PII_PATTERNS[2][1])


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: lowest doc_id per normalized-content fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    kept = exact_dedup(docs, text_col="text", id_col="doc_id")
    return kept.select("doc_id", "source", "n_chars")


DEDUP_EXACT_SQL = f"""
SELECT doc_id, source, n_chars
FROM documents
WHERE doc_id IN (
  SELECT MIN(doc_id) FROM documents GROUP BY md5({_NORM_SQL})
)
"""


def dedup_ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle Jaccard pairs ≥ 0.5 via inverted shingle index."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5, max_posting=None
    )


DEDUP_NGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents WHERE {_NORM_SQL} <> ''
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, GREATEST(len(t) - 2, 0)),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks
), sized AS (
  SELECT doc_id, shingles, len(shingles) AS sz FROM sh WHERE len(shingles) > 0
), posting AS (
  SELECT doc_id, UNNEST(shingles) AS shingle FROM sized
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM posting a JOIN posting b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       ROUND(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM common
JOIN sized sa ON sa.doc_id = id_a
JOIN sized sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5
"""


def dedup_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16-band LSH candidates, verified at Jaccard ≥ 0.5.

    ORACLE: exact shingle-Jaccard pairs (``DEDUP_MINHASH_SQL``). The
    exact-verification stage makes LSH output a *subset* of the exact
    pair set by construction; equality additionally needs banded recall
    = 1, which holds on this corpus — every true pair has J ≥ 0.8
    (planted near-dups), where P(miss) = (1-J⁴)¹⁶ ≤ 2·10⁻⁴ per pair,
    and the seeded hash family + fixed data make the outcome
    deterministic (verified at sf0.01 AND sf0.1: 25/25 and 256/256
    pairs, zero missed)."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        docs,
        id_col="doc_id",
        text_col="text",
        num_hashes=64,
        bands=16,
        shingle_n=3,
        verify_threshold=0.5,
    )


# same exact-Jaccard machinery as DEDUP_NGRAM_SQL, minus the n_common
# column (the minhash query emits (id_a, id_b, jaccard))
DEDUP_MINHASH_SQL = f"""
SELECT id_a, id_b, jaccard FROM ({DEDUP_NGRAM_SQL})
"""


def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints, 60-bit portable-hash variant.

    Uses the md5-60 token hash (dedupe.portable_hash60) instead of the
    default xxhash64 precisely so a DuckDB oracle can recompute every
    fingerprint bit-for-bit (``SIMHASH_SQL`` below) — the full vote
    fold is verified, not just row counts. The xxhash64 default remains
    the production path (same plan shape, cheaper per token)."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_fingerprints(
        docs, id_col="doc_id", text_col="text", bits=60, hash_fn="md5_60"
    )


def _simhash_sql(bits: int = 60) -> str:
    """DuckDB mirror of the portable SimHash: same normalization, same
    distinct-token set, same md5-60 hash, same ±1 vote fold per bit."""
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    fold = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_distinct({_TOKS_SQL})) AS tok
  FROM documents WHERE {_NORM_SQL} <> ''
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM toks WHERE tok <> ''
), v AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {fold} AS simhash FROM v
"""


SIMHASH_SQL = _simhash_sql()


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs baseline).

    Threshold 0.42, not a production-ish 0.9+: the synthetic embeddings
    are uniform random (max pairwise cosine ~0.51), so a high threshold
    returns zero rows and the oracle comparison would be vacuous. 0.42
    yields a small nonzero pair set at every driver SF."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.42
    )


EMB_NEAR_DUP_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
  WHERE len(embedding) > 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE a.nrm > 0 AND b.nrm > 0
  AND ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.42
"""


_EMB_DIM = 64  # driver testdata embeddings are 64-d at every SF
_EMB_BUCKET_PLANES = 8


def embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed embedding near-dup — the 100 TB self-dedup path.

    No driver collect anywhere in the plan: vectors get an 8-bit
    random-hyperplane signature (deterministic seeded planes, shared
    with the oracle SQL below), and only same-signature vectors are
    compared. Same threshold semantics as the exact query restricted to
    colliding pairs — which is exactly what the DuckDB mirror computes,
    so the driver hash check verifies the bucketing itself."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.42,
        bucket_planes=_EMB_BUCKET_PLANES, dim=_EMB_DIM,
    )


def _emb_bucketed_sql() -> str:
    """DuckDB mirror of the sign-LSH bucketing: embeds the SAME plane
    constants (dedupe.sign_planes, seed 42) as exact float literals, so
    signatures — and therefore the emitted pair set — must match the
    Spark plan bit-for-bit."""
    from ..operators.dedupe import sign_planes

    planes = sign_planes(_EMB_DIM, _EMB_BUCKET_PLANES)
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(e, [{', '.join(repr(x) for x in p)}]) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
  WHERE len(embedding) > 0
), s AS (
  SELECT vec_id, e, nrm, {sig_terms} AS sig
  FROM v WHERE nrm > 0
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.42
"""


EMB_NEAR_DUP_BUCKETED_SQL = _emb_bucketed_sql()


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5
    )


ANN_TOPK_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings WHERE len(embedding) > 0
), q AS (SELECT * FROM v WHERE vec_id < 10)
SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
       ROUND(list_dot_product(v.e, q.e) / (v.nrm * q.nrm), 6) AS cosine,
       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                          ORDER BY ROUND(list_dot_product(v.e, q.e) / (v.nrm * q.nrm), 6) DESC,
                                   v.vec_id) AS rank
FROM v CROSS JOIN q
WHERE v.vec_id <> q.vec_id AND v.nrm > 0 AND q.nrm > 0
QUALIFY rank <= 5
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH approximate top-5.

    ORACLE: ``ANN_LSH_SQL`` embeds the SAME seeded hyperplanes as float
    literals and replays the whole algorithm — bucket in 16 tables of 8
    sign bits, union candidates, exact-cosine rank — so the approximate
    result itself is hash-checked, not just sampled for recall."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_cosine_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5, tables=16, bits=8
    )


_ANN_LSH_TABLES = 16
_ANN_LSH_BITS = 8


def _ann_lsh_sql() -> str:
    """DuckDB mirror of lsh_cosine_topk: identical planes (seed 7),
    identical signature packing, candidates = bucket-mates in ANY
    table, exact rounded-cosine rank with neighbor-id tiebreak."""
    from ..operators.similarity import _hyperplanes

    hp = _hyperplanes(_EMB_DIM, _ANN_LSH_TABLES, _ANN_LSH_BITS, seed=7)
    sig_cols = []
    for t, table in enumerate(hp):
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(e, [{', '.join(repr(x) for x in p)}]) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(table)
        )
        sig_cols.append(f"{terms} AS b{t}")
    any_bucket = " OR ".join(
        f"c.b{t} = q.b{t}" for t in range(_ANN_LSH_TABLES)
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings WHERE len(embedding) > 0
), s AS (
  SELECT vec_id, e, nrm, {', '.join(sig_cols)}
  FROM v WHERE nrm > 0
), q AS (SELECT * FROM s WHERE vec_id < 10),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(c.e, q.e) / (c.nrm * q.nrm), 6) AS cosine
  FROM s c JOIN q ON c.vec_id <> q.vec_id AND ({any_bucket})
)
SELECT query_id, neighbor_id, cosine,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
FROM cand
QUALIFY rank <= 5
"""


ANN_LSH_SQL = _ann_lsh_sql()


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5.

    ORACLE: ``ANN_IVF_SQL`` rebuilds the identical index — portable
    md5-60 centroid sample, nearest-centroid assignment, n_probe
    cluster probing, exact rounded-cosine rank — so the driver hash
    check covers the whole IVF pipeline."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_cosine_topk(
        emb, queries, id_col="vec_id", vec_col="embedding", k=5,
        n_centroids=32, n_probe=8,
    )


ANN_IVF_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings WHERE len(embedding) > 0
), s AS (
  SELECT vec_id, e, nrm FROM v WHERE nrm > 0
), cent AS (
  SELECT vec_id AS centroid_id, e AS ce, nrm AS cen FROM s
  ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
  LIMIT 32
), assigned AS (
  SELECT vec_id, e, nrm, centroid_id AS cluster FROM (
    SELECT s.vec_id, s.e, s.nrm, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
                              ORDER BY list_dot_product(s.e, c.ce) / (s.nrm * c.cen) DESC,
                                       c.centroid_id) AS rn
    FROM s CROSS JOIN cent c
  ) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, e AS qe, nrm AS qn, centroid_id AS cluster FROM (
    SELECT s.vec_id, s.e, s.nrm, c.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
                              ORDER BY list_dot_product(s.e, c.ce) / (s.nrm * c.cen) DESC,
                                       c.centroid_id) AS rn
    FROM s CROSS JOIN cent c WHERE s.vec_id < 10
  ) WHERE rn <= 8
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.e, p.qe) / (a.nrm * p.qn), 6) AS cosine
  FROM assigned a JOIN probes p ON a.cluster = p.cluster AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cosine,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank
FROM scored
QUALIFY rank <= 5
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode, REAL codecs: each document row synthesizes a
    deterministic media payload from its id (even ids → binary P6 PPM
    image, odd ids → PCM16 RIFF/WAV clip — dims, fill level, sample
    count, amplitude all arithmetic functions of doc_id), then
    :func:`media_features` parses the actual bytes back inside one
    narrow ``mapInPandas`` stage — header tokenizer, chunk walk,
    numpy raster/sample statistics, no imaging/audio library.

    ORACLE: ``MULTIMODAL_SQL`` recomputes width/height/duration/mean
    level/byte count from the same doc_id arithmetic, so the driver
    hash verifies the encode→decode INVERSION: a header off by one
    byte, a wrong chunk offset, or a bad sample stride all break the
    match."""
    from ..operators.multimodal import media_features, synth_ppm, synth_wav

    # no type hints: postponed annotations (PEP 563) stringify them and
    # pyspark can't resolve the function-local 'pd' alias
    synth = F.pandas_udf(
        lambda ids: ids.map(
            lambda i: synth_ppm(int(i)) if int(i) % 2 == 0 else synth_wav(int(i))
        ),
        "binary",
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = docs.withColumn("payload", synth(F.col("media_id")))
    feats = media_features(media, payload_col="payload")
    return feats.select(
        "media_id",
        F.col("m_mime").alias("mime"),
        F.col("m_width").alias("width"),
        F.col("m_height").alias("height"),
        F.round("m_duration_s", 6).alias("duration_s"),
        F.round("m_mean_level", 6).alias("mean_level"),
        F.col("m_n_bytes").alias("n_bytes"),
    )


MULTIMODAL_SQL = """
WITH p AS (
  SELECT doc_id,
         doc_id % 2 = 0 AS is_img,
         4 + doc_id % 13 AS w,
         3 + doc_id % 7 AS h,
         doc_id % 251 AS v,
         500 + (doc_id % 100) * 37 AS ns,
         doc_id % 997 AS amp
  FROM documents
)
SELECT doc_id AS media_id,
       CASE WHEN is_img THEN 'image/x-portable-pixmap'
            ELSE 'audio/wav' END AS mime,
       CAST(CASE WHEN is_img THEN w ELSE 0 END AS INTEGER) AS width,
       CAST(CASE WHEN is_img THEN h ELSE 0 END AS INTEGER) AS height,
       ROUND(CASE WHEN is_img THEN 0.0
                  ELSE CAST(ns AS DOUBLE) / 8000 END, 6) AS duration_s,
       ROUND(CAST(CASE WHEN is_img THEN v ELSE amp END AS DOUBLE), 6) AS mean_level,
       CAST(CASE WHEN is_img
                 THEN 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + 3 * w * h
                 ELSE 44 + 2 * ns END AS BIGINT) AS n_bytes
FROM p
"""


def multimodal_pointer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer-based multimodal decode: payloads too large to inline in
    a parquet row group live in append-only blob-store files; the table
    carries only (uri, offset, length) structs. This builds that layout
    DISTRIBUTED — each task synthesizes its partition's deterministic
    media payloads (same doc_id arithmetic as
    :func:`multimodal_features`) and appends them to its own store file
    (``write_blob_store_distributed``: no driver collect, no
    driver-side writes — the r4 verdict's one flagged anti-pattern),
    then the pipeline resolves pointers (per-task handle cache, seek +
    exact-length read) and decodes the fetched bytes — every stage a
    narrow ``mapInPandas``, end-to-end shuffle-free.

    ORACLE: ``MULTIMODAL_SQL`` verbatim — pointer resolution must be
    byte-exact for the decode inversion to hash-match, so one wrong
    offset/length anywhere breaks the row."""
    import hashlib
    import tempfile
    from typing import Iterator

    from ..operators.multimodal import (
        media_features,
        resolve_pointers,
        synth_ppm,
        synth_wav,
        write_blob_store_distributed,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]

    def synth_batches(batches: "Iterator[pd.DataFrame]"):
        for pdf in batches:
            pdf["payload"] = [
                synth_ppm(int(i)) if int(i) % 2 == 0 else synth_wav(int(i))
                for i in pdf["media_id"]
            ]
            yield pdf

    media = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .mapInPandas(synth_batches, "media_id LONG, payload BINARY")
    )
    pointers = write_blob_store_distributed(
        media, "payload", tempfile.gettempdir(), prefix=f"blobs_{tag}"
    )

    feats = media_features(
        resolve_pointers(pointers, "pointer", "payload"), payload_col="payload"
    )
    return feats.select(
        "media_id",
        F.col("m_mime").alias("mime"),
        F.col("m_width").alias("width"),
        F.col("m_height").alias("height"),
        F.round("m_duration_s", 6).alias("duration_s"),
        F.round("m_mean_level", 6).alias("mean_level"),
        F.col("m_n_bytes").alias("n_bytes"),
    )


def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling, REAL decode: each document synthesizes a
    deterministic uncompressed-RGB24 AVI (dims, frame count, fps, and
    per-frame fill level all arithmetic in doc_id), then
    :func:`frame_sample` walks the actual RIFF container — header
    chunks, '00db' rasters, row padding — and keeps the first frame of
    each 0.5 s sampling window, one output row per kept frame (the
    row-explosion mapInPandas shape: narrow, no shuffle).

    ORACLE: ``VIDEO_FRAME_SQL`` regenerates the frame schedule from the
    same doc_id arithmetic (t_s uses the container's integer µs/frame,
    so both engines compute bit-identical timestamps) and applies the
    same first-of-window rule via QUALIFY."""
    from ..operators.multimodal import frame_sample, synth_avi

    synth = F.pandas_udf(
        lambda ids: ids.map(lambda i: synth_avi(int(i))), "binary"
    )
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    media = docs.withColumn("payload", synth(F.col("media_id")))
    return frame_sample(media, every_s=0.5, payload_col="payload").select(
        "media_id",
        "frame_idx",
        F.round("t_s", 6).alias("t_s"),
        "width",
        "height",
        F.round("mean_level", 6).alias("mean_level"),
    )


VIDEO_FRAME_SQL = """
WITH p AS (
  SELECT doc_id,
         3 + doc_id % 6 AS nf,
         1000000 // (5 + doc_id % 4) AS us_per_frame,
         4 + doc_id % 5 AS w,
         2 + doc_id % 3 AS h
  FROM documents
), fr AS (
  SELECT doc_id, w, h, us_per_frame,
         unnest(generate_series(0, nf - 1)) AS i
  FROM p
), f AS (
  SELECT doc_id, w, h, i,
         CAST(i * us_per_frame AS DOUBLE) / 1000000 AS t_s,
         CAST((doc_id + 7 * i) % 251 AS DOUBLE) AS lvl
  FROM fr
)
SELECT doc_id AS media_id,
       CAST(i AS INTEGER) AS frame_idx,
       ROUND(t_s, 6) AS t_s,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       ROUND(lvl, 6) AS mean_level
FROM f
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY doc_id, CAST(floor(t_s / 0.5) AS BIGINT) ORDER BY i
) = 1
"""


def video_frame_sample_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over MJPEG AVIs — REAL entropy decode: each
    document synthesizes a deterministic MJPEG AVI (same dims / frame
    count / fps / level arithmetic as :func:`video_frame_sample`, but
    every frame is a baseline JPEG in a '00dc' chunk), then
    :func:`frame_sample` walks the RIFF container and runs each frame
    through the pure-Python baseline JPEG decoder
    (``operators/jpeg.py``: Huffman + dequant + IDCT — no
    ffmpeg/pyav). The solid frames use DC quant step 8, so decoded
    means replay EXACTLY from the doc_id arithmetic.

    ORACLE: ``VIDEO_FRAME_SQL`` verbatim — the container schedule and
    the decoded levels are both pure functions of doc_id, and one
    wrong Huffman bit or dequant step anywhere breaks the hash."""
    from ..operators.multimodal import frame_sample, synth_avi_mjpeg

    synth = F.pandas_udf(
        lambda ids: ids.map(lambda i: synth_avi_mjpeg(int(i))), "binary"
    )
    docs = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("media_id"))
    media = docs.withColumn("payload", synth(F.col("media_id")))
    return frame_sample(media, every_s=0.5, payload_col="payload").select(
        "media_id",
        "frame_idx",
        F.round("t_s", 6).alias("t_s"),
        "width",
        "height",
        F.round("mean_level", 6).alias("mean_level"),
    )


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events table. FileStreamSource requires a
    DIRECTORY source and the testdata is one parquet file per table, so
    stage a symlink dir (testdata itself is read-only)."""
    import hashlib
    import tempfile

    from ..sources.readers import ensure_nanos_readable

    ensure_nanos_readable(spark)
    path = os.path.join(sf_dir, "events.parquet")
    # md5 of the path, NOT Python hash(): hash() is seed-randomized per
    # process, so it would mint a fresh /tmp staging dir on every run.
    stage = os.path.join(
        tempfile.gettempdir(),
        f"stream_events_{hashlib.md5(path.encode()).hexdigest()[:12]}",
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    stream = spark.readStream.schema(
        spark.read.parquet(path).schema
    ).parquet(stage)
    from ..sources.readers import normalize_event_time

    return normalize_event_time(stream, "ts")


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming end-to-end: ``readStream`` over the events
    parquet → watermark → 1-hour tumbling window agg → memory sink,
    driven to completion, returning the materialized result.

    Complete output mode on purpose: in append mode the final window
    (beyond ``max(ts) - watermark``) is never finalized on a bounded
    input, so the batch oracle could not match. Exact-sum discipline:
    values accumulate as DECIMAL so the hash is order-insensitive.
    """
    from ..streaming.sessions import run_stream_to_memory, tumbling_counts

    # pre-cast so the streaming agg ACCUMULATES in decimal (exact,
    # order-insensitive) — casting after the sum would not be
    stream = _stream_events(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    agg = tumbling_counts(
        stream, ts_col="ts", key_col="event_type",
        window="1 hour", watermark="10 minutes",
    )
    run_stream_to_memory(agg, "tumbling_counts_result", output_mode="complete")
    res = spark.table("tumbling_counts_result")
    return res.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        F.col("n"),
        F.col("total_value").cast("double").alias("total_value"),
    )


STREAM_TUMBLING_SQL = """
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming agg (1 h window / 30 min slide): every
    event lands in exactly window/slide = 2 windows; oracle replays that
    window assignment with generate_series."""
    from ..streaming.sessions import run_stream_to_memory, sliding_counts

    stream = _stream_events(spark, sf_dir)
    agg = sliding_counts(
        stream, ts_col="ts", key_col="event_type",
        window="1 hour", slide="30 minutes", watermark="10 minutes",
    )
    run_stream_to_memory(agg, "sliding_counts_result", output_mode="complete")
    res = spark.table("sliding_counts_result")
    return res.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n",
    )


STREAM_SLIDING_SQL = """
SELECT strftime(time_bucket(INTERVAL 30 MINUTES, ts) - i * INTERVAL 30 MINUTES,
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n
FROM events, (SELECT UNNEST(generate_series(0, 1)) AS i)
GROUP BY 1, 2
"""


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based ``session_window`` streaming agg (30 min gap per user)
    — R7's gap shape on a stream. Oracle rebuilds the sessions with the
    lag-gap prefix-sum formulation (a new session starts when the gap to
    the previous event exceeds 30 min)."""
    from ..streaming.sessions import run_stream_to_memory, session_window_agg

    stream = _stream_events(spark, sf_dir)
    agg = session_window_agg(
        stream, ts_col="ts", key_cols=("user_id",),
        gap="30 minutes", watermark="1 hour",
    )
    run_stream_to_memory(agg, "session_windows_result", output_mode="complete")
    res = spark.table("session_windows_result")
    return res.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
    )


STREAM_SESSION_SQL = """
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM (
    SELECT user_id, event_id, ts,
           CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            + INTERVAL 30 MINUTES
                THEN 1 ELSE 0 END AS new_session
    FROM events
  )
)
GROUP BY user_id, session_id
"""


def streaming_gap_anchor_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 on a stream: the anchor-reset gap fold as a STATEFUL streaming
    operator (``applyInPandasWithState``; anchor = last MARKED event,
    persisted in GroupState across micro-batches). Same recursive-CTE
    oracle as the batch ``r7_gap_mark`` — batch and stream agree."""
    from ..streaming.sessions import gap_anchor_mark_stream, run_stream_to_memory

    stream = _stream_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts"
    )
    marked = gap_anchor_mark_stream(
        stream,
        group_keys=["user_id", "event_type"],
        ts_col="ts",
        gap_days=3,
        id_col="event_id",
    )
    run_stream_to_memory(marked, "gap_anchor_stream_result", output_mode="append")
    res = spark.table("gap_anchor_stream_result")
    return res.select("event_id", "user_id", "event_type", "validacion")


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first arrival per (user, event_type)
    wins; watermark bounds state (keys older than the horizon evict) —
    ingestion-time exactly-once for an event feed. Projected to the key
    columns before dedup so the result is deterministic and the batch
    oracle is a plain DISTINCT."""
    from ..streaming.sessions import dedup_stream, run_stream_to_memory

    stream = _stream_events(spark, sf_dir)
    ded = dedup_stream(stream, keys=["user_id", "event_type"], ts_col="ts")
    run_stream_to_memory(ded, "dedup_events_result", output_mode="append")
    return spark.table("dedup_events_result").select("user_id", "event_type")


STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the unbounded event stream enriched against a
    small static dimension (broadcast — the static side never
    re-shuffles per micro-batch), then aggregated per enriched category.
    This is the ingestion-enrichment shape of a production feed: dim
    lookup at stream speed, state only in the final agg."""
    from ..streaming.sessions import run_stream_to_memory

    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "acquisition"),
            ("error", "ops"),
        ],
        ["event_type", "category"],
    )
    stream = _stream_events(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    agg = (
        stream.join(F.broadcast(dim), "event_type")
        .groupBy("category")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )
    run_stream_to_memory(agg, "enriched_counts_result", output_mode="complete")
    res = spark.table("enriched_counts_result")
    return res.select(
        "category", "n", F.col("total_value").cast("double").alias("total_value")
    )


STREAM_ENRICHED_SQL = """
SELECT CASE event_type WHEN 'purchase' THEN 'revenue'
                       WHEN 'signup' THEN 'acquisition'
                       WHEN 'error' THEN 'ops'
                       ELSE 'engagement' END AS category,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
WHERE event_type IN ('click', 'view', 'purchase', 'signup', 'error')
GROUP BY 1
"""


def j_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC *generation*: reconcile two order snapshots into the minimal
    I/U/D feed (deletes keys ≡0 mod 10, reprices ≡1,2, inserts shifted
    ≡3 — the same deterministic mutation the merge queries apply, so
    the diff must recover it exactly). One null-safe full-outer join;
    unchanged rows emit nothing. Round-trip law
    ``merge_changes(old, snapshot_diff(old, new)) == new`` is pinned in
    tests/test_corpus_ops.py."""
    from ..operators.relational import snapshot_diff

    old = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    kept = old.filter(k % 10 != 0)
    new = (
        kept.withColumn(
            "o_totalprice",
            F.when(
                (k % 10).isin(1, 2), F.col("o_totalprice") + F.lit(1000.0)
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            old.filter(k % 10 == 3).withColumn(
                "o_orderkey", k + F.lit(100_000_000)
            )
        )
    )
    return snapshot_diff(old, new, keys=["o_orderkey"])


J_SNAPSHOT_DIFF_SQL = """
WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders)
SELECT o_orderkey, o_custkey, o_totalprice, 'D' AS op
FROM base WHERE o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice + 1000.0, 'U'
FROM base WHERE o_orderkey % 10 IN (1, 2)
UNION ALL
SELECT o_orderkey + 100000000, o_custkey, o_totalprice, 'I'
FROM base WHERE o_orderkey % 10 = 3
"""


_PACK_BUDGET = 512  # tokens per packed training sequence


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sequence packing: documents stream into
    fixed-budget training sequences in deterministic (source, doc_id)
    order; each document is assigned the sequence where its first token
    lands plus its offset inside it — the GPT-style packing manifest
    (reader concatenates in order and cuts every ``_PACK_BUDGET``
    tokens).

    One window over (source) — a single shuffle on the pack-stream key.
    At 100 TB the unit of packing parallelism is the stream key: a
    giant source is pre-split into k salted streams (seq ids then
    namespace per salt), the same hot-key treatment as
    ``keep_first_salted``. Token counts come from the shared BPE-ish
    pre-tokenizer regex, so the oracle replays them exactly."""
    docs = _t(spark, sf_dir, "documents")
    tok = F.regexp_count(F.col("text"), F.lit(_BPE_PRETOK)).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum(tok).over(w) - tok
    return docs.select(
        "doc_id",
        "source",
        tok.alias("n_tokens"),
        F.floor(start / _PACK_BUDGET).cast("long").alias("seq_id"),
        (start % _PACK_BUDGET).cast("long").alias("seq_offset"),
    )


PACK_SEQUENCES_SQL = f"""
SELECT doc_id, source, n_tokens,
       CAST(FLOOR((cum - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS seq_id,
       CAST((cum - n_tokens) % {_PACK_BUDGET} AS BIGINT) AS seq_offset
FROM (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '{_BPE_PRETOK}')) AS BIGINT) AS n_tokens,
         SUM(CAST(len(regexp_extract_all(text, '{_BPE_PRETOK}')) AS BIGINT))
             OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
)
"""


def dedup_cluster_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair → cluster: MinHash-LSH verified pairs (same parameters as
    ``dedup_minhash_lsh_docs``) fed through distributed connected
    components; every document gets a cluster id (singletons cluster
    with themselves) and a canonical flag (the cluster's min doc_id —
    the row a dedup pass KEEPS).

    ORACLE: the full minhash pair SQL embedded as a subquery, closed
    transitively with a recursive CTE, min label per component — so the
    driver hash verifies pairs, closure, AND canonical choice."""
    from ..operators.dedupe import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text",
        num_hashes=64, bands=16, shingle_n=3, verify_threshold=0.5,
    )
    cc = connected_components(pairs, out_id="doc_id", out_label="cluster_id")
    out = docs.select("doc_id").join(cc, "doc_id", "left")
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return out.select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).alias("is_canonical"),
    )


DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT id_a, id_b FROM ({DEDUP_MINHASH_SQL})),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
cc AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node)
SELECT d.doc_id,
       COALESCE(cc.label, d.doc_id) AS cluster_id,
       COALESCE(cc.label, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
"""


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks joined to the same user's
    views within the following hour, both sides unbounded streams —
    the funnel/attribution shape. Append mode works because the time
    bounds let Spark expire join state (see
    :func:`..streaming.sessions.interval_join_streams`).

    ORACLE: the identical interval self-join in batch SQL. Timestamps
    stringified, gap emitted in integer seconds — hash-stable."""
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
        within="1 hour", watermark="2 hours",
    )
    run_stream_to_memory(joined, "interval_join_result", output_mode="append")
    res = spark.table("interval_join_result")
    return res.select(
        "user_id",
        "click_id",
        "view_id",
        (F.unix_micros("r_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


STREAM_INTERVAL_JOIN_SQL = """
SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
       epoch_us(v.ts) - epoch_us(c.ts) AS gap_us
FROM events c JOIN events v
  ON c.user_id = v.user_id
 AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND v.event_type = 'view'
"""


def q5_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: a six-table join tree (fact ⨝ fact ⨝ four dims)
    with a region filter and a date range — the broad join-reordering
    case. The only shuffle-worthy join is lineitem ⨝ orders; customer,
    supplier, nation, region all broadcast, and Catalyst pushes the
    date filter into the orders scan and the region filter down the
    dim chain (plan-test pinned)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_dec_sum(rev).alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
GROUP BY n_name
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery): revenue from
    line items below 20% of their part's average quantity, for one
    brand. DECORRELATED as a window average over l_partkey — one
    shuffle on the part key instead of the naive per-row subquery
    (which Catalyst would rewrite into a self-join + re-aggregate;
    the window form reads the fact once). Oracle states the same
    window formulation, so the decorrelation itself is hash-checked."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2").select(
        "p_partkey"
    )
    w = Window.partitionBy("l_partkey")
    flagged = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
    )
    return flagged.agg(
        F.count("*").alias("n_small"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double")
            / F.lit(7.0),
            4,
        ).alias("avg_yearly"),
    )


Q17_SQL = """
WITH flagged AS (
  SELECT l_extendedprice, l_quantity,
         AVG(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem
  JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#2') p
    ON l_partkey = p_partkey
)
SELECT COUNT(*) AS n_small,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0, 4)
         AS avg_yearly
FROM flagged
WHERE l_quantity < 0.2 * avg_qty
"""


def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window EXACT distinct users via two CHAINED stateful
    operators (stateful dedup on (window, user) → windowed count) —
    the streaming COUNT(DISTINCT) restatement; both stages share the
    watermark so closed-window state evicts end to end. Append mode:
    the tail window (end past max-event-time − watermark) is withheld,
    and the oracle applies the same cutoff."""
    from ..streaming.sessions import run_stream_to_memory, windowed_distinct_users

    stream = _stream_events(spark, sf_dir)
    agg = windowed_distinct_users(
        stream, ts_col="ts", user_col="user_id", window="1 day", watermark="1 hour"
    )
    run_stream_to_memory(agg, "windowed_distinct_users_result", output_mode="append")
    res = spark.table("windowed_distinct_users_result")
    return res.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_users",
    )


STREAM_DISTINCT_USERS_SQL = """
WITH mx AS (SELECT MAX(ts) AS m FROM events),
d AS (SELECT DISTINCT date_trunc('day', ts) AS ws, user_id FROM events)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_users
FROM d, mx
WHERE ws + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
GROUP BY ws
"""


# ===========================================================================
# model scoring / quantization / JSONL interchange (round 4)
# ===========================================================================


def quality_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a linear classifier over the
    heuristic features (sqrt-tokens, punct/stopword ratios, mean word
    length, 2-gram repetition) emitting a logit and a keep decision —
    the learned-filter stage of a corpus pipeline, kept IEEE-exact
    (sqrt/mul/add only, fixed order) so the score itself is
    oracle-hashed, not just tested to tolerance."""
    from ..functions.text import quality_logit

    docs = _t(spark, sf_dir, "documents")
    z = quality_logit(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        z.alias("q_logit"),
        (z >= 0).cast("int").alias("keep"),
    )


QUALITY_MODEL_SQL = f"""
SELECT doc_id, n_tokens,
       ROUND(-2.0 + 0.35 * sqrt(CAST(n_tokens AS DOUBLE))
                  + (-6.0) * punct_ratio
                  + 8.0 * stopword_ratio
                  + 0.05 * mean_word_len
                  + (-5.0) * rep2, 6) AS q_logit,
       CAST(ROUND(-2.0 + 0.35 * sqrt(CAST(n_tokens AS DOUBLE))
                  + (-6.0) * punct_ratio
                  + 8.0 * stopword_ratio
                  + 0.05 * mean_word_len
                  + (-5.0) * rep2, 6) >= 0 AS INT) AS keep
FROM (
  SELECT doc_id,
         CASE WHEN {_NORM_SQL} = '' THEN 0 ELSE len({_TOKS_SQL}) END AS n_tokens,
         ROUND(COALESCE(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
               / NULLIF(CAST(length(text) AS DOUBLE), 0), 0.0), 6) AS punct_ratio,
         ROUND(COALESCE(
           CAST(len(list_filter({_TOKS_SQL}, t -> list_contains({_EN}, t) OR list_contains({_ES}, t))) AS DOUBLE)
             / NULLIF(CAST(CASE WHEN {_NORM_SQL} = '' THEN 0 ELSE len({_TOKS_SQL}) END AS DOUBLE), 0),
           0.0), 6) AS stopword_ratio,
         ROUND(COALESCE(CAST(length(replace({_NORM_SQL}, ' ', '')) AS DOUBLE)
               / NULLIF(CAST(CASE WHEN {_NORM_SQL} = '' THEN 0 ELSE len({_TOKS_SQL}) END AS DOUBLE), 0), 0.0), 6)
           AS mean_word_len,
         ROUND(CASE WHEN len(bg) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
               END, 6) AS rep2
  FROM (
    SELECT doc_id, text,
           list_transform(range(1, len({_TOKS_SQL})),
                          i -> ({_TOKS_SQL})[i] || ' ' || ({_TOKS_SQL})[i+1]) AS bg
    FROM documents
  )
)
"""


def quantize_embeddings_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (4x storage cut for a 100 TB
    embedding store): per-vector symmetric scale, round-to-int8, plus
    reconstruction-error audit columns. Quantized bytes are hashed via
    exact integer aggregates (sum / min / max of the int8 array) so the
    oracle pins every byte, and max_abs_err is IEEE-exact arithmetic."""
    from ..operators.similarity import dequantize_embeddings, quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    # zero / null vectors quantize to null scale; both sides drop them
    q = dequantize_embeddings(quantize_embeddings(emb)).filter(
        F.col("q8_scale").isNotNull()
    )
    err = F.array_max(
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.col("embedding_deq"),
            lambda a, b: F.abs(a - b),
        )
    )
    qi = F.transform(F.col("q8"), lambda x: x.cast("long"))
    return q.select(
        "vec_id",
        F.round(F.col("q8_scale"), 6).alias("q8_scale_r"),
        F.aggregate(qi, F.lit(0).cast("long"), lambda s, v: s + v).alias("q_sum"),
        F.array_min("q8").cast("int").alias("q_min"),
        F.array_max("q8").cast("int").alias("q_max"),
        F.round(err, 6).alias("max_abs_err"),
    )


QUANTIZE_Q8_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
), s AS (
  SELECT vec_id, vd,
         list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale
  FROM v
), q AS (
  SELECT vec_id, vd, scale,
         list_transform(vd, x -> CAST(round(x / scale) AS BIGINT)) AS qi
  FROM s WHERE scale > 0
)
SELECT vec_id,
       ROUND(scale, 6) AS q8_scale_r,
       CAST(list_sum(qi) AS BIGINT) AS q_sum,
       CAST(list_min(qi) AS INT) AS q_min,
       CAST(list_max(qi) AS INT) AS q_max,
       ROUND(list_max(list_transform(list_zip(vd, qi),
                                     p -> abs(p[1] - p[2] * scale))), 6) AS max_abs_err
FROM q
"""


def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus re-balancing (weight ∝ share^0.5) with
    the realized per-stratum sample: the data-mixing stage of a training
    pipeline, end-to-end — rates computed FROM the data (one tiny agg),
    broadcast back, and applied as the deterministic hash quota. Both
    the weights (sqrt/÷, IEEE-exact) and the exact kept set are
    oracle-hashed."""
    from ..operators.sampling import mixture_rates, stratified_sample_rates

    docs = _t(spark, sf_dir, "documents")
    rates = mixture_rates(docs, "lang", alpha=0.5, target_rows=150)
    kept = (
        stratified_sample_rates(docs, "doc_id", "lang", rates)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(F.broadcast(kept), "lang", "left")
        .select(
            "lang",
            "n_rows",
            F.round("mix_weight", 6).alias("mix_weight"),
            F.round("sample_rate", 6).alias("sample_rate"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


SAMPLE_MIXTURE_SQL = """
WITH c AS (SELECT lang, COUNT(*) AS n_rows FROM documents GROUP BY lang),
t AS (SELECT SUM(sqrt(CAST(n_rows AS DOUBLE))) AS w_total FROM c),
r AS (
  SELECT lang, n_rows,
         sqrt(CAST(n_rows AS DOUBLE)) / w_total AS mw,
         LEAST(1.0, sqrt(CAST(n_rows AS DOUBLE)) / w_total * 150.0 / n_rows) AS rate
  FROM c, t
), k AS (
  SELECT d.lang, COUNT(*) AS n_kept
  FROM documents d JOIN r ON d.lang = r.lang
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100000
        < CAST(round(rate * 100000) AS BIGINT)
  GROUP BY d.lang
)
SELECT r.lang, r.n_rows,
       ROUND(mw, 6) AS mix_weight,
       ROUND(rate, 6) AS sample_rate,
       COALESCE(k.n_kept, 0) AS n_kept
FROM r LEFT JOIN k ON r.lang = k.lang
"""


def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-seed vocabulary induction: top-100 normalized tokens by
    corpus frequency with rank and cumulative coverage. The explode is
    scan-local and the count partial-aggregates map-side, so the only
    full shuffle carries one row per DISTINCT token — at 100 TB that is
    vocabulary-sized, not corpus-sized."""
    from ..functions.text import vocab_top_k

    docs = _t(spark, sf_dir, "documents")
    return vocab_top_k(docs, "text", k=100)


VOCAB_TOPK_SQL = f"""
WITH tok AS (
  SELECT unnest(list_filter({_TOKS_SQL}, t -> t <> '')) AS token FROM documents
), c AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
t AS (SELECT SUM(freq) AS total FROM c),
top AS (SELECT token, freq FROM c ORDER BY freq DESC, token LIMIT 100)
SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS INT) AS rank,
       token, freq,
       ROUND(CAST(SUM(freq) OVER (ORDER BY freq DESC, token
                                  ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(total AS DOUBLE), 6) AS cum_coverage
FROM top, t
"""


def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (ingest-wave) dedup: the odd-id half of documents
    arrives as a new batch and dedups against the even-id half's
    fingerprint-only index — the corpus itself is never rescanned. The
    operational dedup shape at 100 TB: the index is one md5 per
    historical doc, the anti-join hashes on it, and within-batch
    keep-first matches exact_dedup's canonical-survivor rule."""
    from ..operators.dedupe import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    index = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(doc_fingerprint(F.col("text")).alias("fp"))
    )
    new_batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text"
    )
    kept = incremental_dedup(new_batch, index)
    return kept.select("doc_id", "fp")


DEDUP_INCREMENTAL_SQL = f"""
WITH idx AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS fp FROM documents WHERE doc_id % 2 = 0
), newb AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents WHERE doc_id % 2 = 1
), fresh AS (
  SELECT * FROM newb n WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.fp = n.fp)
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY fp
)
SELECT doc_id, fp FROM fresh WHERE doc_id IN (SELECT doc_id FROM keep)
"""


def sample_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-count stratified sample: exactly min(20, |lang|) docs per
    language, chosen by hash order — reproducible eval-set carving
    (Bernoulli quotas give a binomial count; eval sets need the exact
    one). Map-side WindowGroupLimit keeps hot strata from straggling."""
    from ..operators.sampling import stratified_exact_k

    docs = _t(spark, sf_dir, "documents")
    return stratified_exact_k(docs, "doc_id", "lang", k=20).select(
        "doc_id", "lang", "source"
    )


SAMPLE_EXACT_K_SQL = """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 20
"""


def s8_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Lines interchange roundtrip: write the documents table as
    JSONL (the LLM-corpus interchange format), read it back with an
    explicit schema in PERMISSIVE + corrupt-record-capture mode, and
    aggregate — content (unicode text, nulls, counts) must survive the
    text encoding. The oracle aggregates the parquet source directly,
    so any loss in the JSON path breaks the hash."""
    import hashlib
    import tempfile

    from ..sources.readers import read_jsonl, write_jsonl

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out_dir = os.path.join(tempfile.gettempdir(), f"jsonl_docs_{tag}")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    write_jsonl(docs, out_dir)
    back = read_jsonl(
        spark,
        out_dir,
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    return (
        back.filter(F.col("_corrupt_record").isNull())
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("n_null_text"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
        )
    )


S8_JSONL_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(length(text)) AS BIGINT) AS total_text_len
FROM documents
GROUP BY source
"""
