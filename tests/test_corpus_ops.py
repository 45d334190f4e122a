"""Targeted tests for the corpus-pipeline scalar operators added in
round 2: deterministic stratified sampling, PII redaction, and the
repeated-n-gram repetition ratio. The oracle-parity suite already
cross-checks each against DuckDB; these tests pin the *semantics* on
hand-built rows where the expected answer is computed by eye."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE
from etl_sendas_spark.functions.text import (
    pii_counts,
    pii_redact,
    repeated_ngram_ratio,
)
from etl_sendas_spark.operators.sampling import stratified_sample


def test_stratified_sample_deterministic_and_pushdown(spark):
    df = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("es").alias("lang"),
    )
    out = stratified_sample(
        df, id_col="doc_id", stratum_col="lang", rates={"en": 0.25, "es": 0.5}
    )
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in out.collect()}
    assert a == b  # rerun-stable: no RNG anywhere
    rows = out.groupBy("lang").count().collect()
    got = {r["lang"]: r["count"] for r in rows}
    # Bernoulli(p) over ~6.7k/13.3k rows: allow 5 sigma.
    assert abs(got["en"] / (20000 / 3) - 0.25) < 0.03
    assert abs(got["es"] / (40000 / 3) - 0.5) < 0.03
    # Superset-stability: sampling a subset never flips a kept decision.
    sub = stratified_sample(
        df.filter(F.col("doc_id") < 1000),
        id_col="doc_id", stratum_col="lang", rates={"en": 0.25, "es": 0.5},
    )
    assert {r.doc_id for r in sub.collect()} == {x for x in a if x < 1000}
    # The filter is scan-local: no exchange in the plan.
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_pii_redact_semantics(spark):
    rows = [
        (1, "mail me at a.b-c_1@ex-ample.org today"),
        (2, "ssn 123-45-6789 phone 555-123-4567 and 555 987 6543"),
        (3, "no pii here, just 12345 and v1.2.3"),
        (4, "two mails: x@y.io, z@w.co.uk."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            pii_redact(F.col("text")).alias("red"),
            *[c.alias(k) for k, c in pii_counts(F.col("text")).items()],
        ).collect()
    }
    assert got[1].red == "mail me at <EMAIL> today"
    assert got[1].email == 1 and got[1].ssn == 0 and got[1].phone == 0
    assert got[2].red == "ssn <SSN> phone <PHONE> and <PHONE>"
    assert got[2].ssn == 1 and got[2].phone == 2
    assert got[3].red == rows[2][1]  # untouched
    assert got[4].email == 2
    assert got[4].red.startswith("two mails: <EMAIL>, <EMAIL>")


def test_bpe_pretokenizer_counts(spark):
    from etl_sendas_spark.plans.inventory import _BPE_PRETOK

    df = spark.createDataFrame(
        [("Hello world, 42 éléphants!",), ("",), ("a+b=c",)], ["text"]
    )
    got = [
        r.n for r in df.select(
            F.regexp_count(F.col("text"), F.lit(_BPE_PRETOK)).alias("n")
        ).collect()
    ]
    # [Hello][ world][,][ 42][ éléphants][!] / none / [a][+][b][=][c]
    assert got == [6, 0, 5]


def test_chunk_documents_covers_all_tokens(spark, tmp_path):
    # 100 tokens, chunk=64 stride=48 -> starts 0,48,96: sizes 64,52,4
    text = " ".join(f"t{i}" for i in range(100))
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"doc_id": [1], "text": [text], "lang": ["en"],
                  "source": ["s"], "n_chars": [len(text)]}),
        tmp_path / "documents.parquet",
    )
    from etl_sendas_spark.plans.inventory import chunk_documents

    rows = sorted(
        chunk_documents(spark, str(tmp_path)).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [(r.chunk_idx, r.n_tokens) for r in rows] == [(0, 64), (1, 52), (2, 4)]


def test_trailing_range_window_peers(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 10, base, 1.0),
        (2, 10, base + dt.timedelta(minutes=30), 2.0),
        (3, 10, base + dt.timedelta(minutes=90), 4.0),   # drops event 1
        (4, 10, base + dt.timedelta(minutes=90), 8.0),   # same-ts peer
        (5, 11, base, 16.0),                             # other user
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    df.createOrReplaceTempView("ev_range_test")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    got = {
        r.event_id: (r.s, r.n)
        for r in df.select(
            "event_id",
            F.sum("value").over(w).alias("s"),
            F.count("*").over(w).alias("n"),
        ).collect()
    }
    assert got[1] == (1.0, 1)
    assert got[2] == (3.0, 2)
    # events 3 and 4 share a timestamp: RANGE frame includes both peers,
    # and event 1 (90 min earlier) is outside the hour
    assert got[3] == (14.0, 3) and got[4] == (14.0, 3)
    assert got[5] == (16.0, 1)


def test_merge_changes_last_writer_wins(spark):
    from etl_sendas_spark.operators.relational import merge_changes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "U", 1),
            (2, "b3", "U", 2),   # later seq wins
            (3, None, "D", 1),   # delete
            (4, "d", "I", 1),    # insert
        ],
        ["k", "v", "op", "seq"],
    )
    out = merge_changes(base, changes, keys=["k"], seq_col="seq")
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "a", 2: "b3", 4: "d"}


@pytest.mark.parametrize(
    ("text", "n", "expected"),
    [
        ("a b a b a", 2, 0.5),        # bigrams: ab ba ab ba -> 2/4 dup
        ("a b c d", 2, 0.0),          # all distinct
        ("x x x x", 2, 2 / 3),        # xx xx xx -> 1 distinct of 3
        ("one", 2, 0.0),              # fewer tokens than n
        ("", 2, 0.0),                 # empty doc
        ("a b c a b c a b c", 3, 4 / 7),
    ],
)
def test_repeated_ngram_ratio(spark, text, n, expected):
    df = spark.createDataFrame([(text,)], ["text"])
    got = df.select(repeated_ngram_ratio(F.col("text"), n).alias("r")).head().r
    assert got == pytest.approx(expected, abs=1e-6)


def test_pack_training_sequences_invariants(spark):
    """Packing manifest invariants: offsets stay inside the budget,
    consecutive docs per source abut exactly (offset advances by the
    previous doc's tokens, modulo sequence cuts), seq ids never
    decrease in pack order."""
    from etl_sendas_spark.plans.inventory import (
        _PACK_BUDGET,
        pack_training_sequences,
    )

    rows = pack_training_sequences(spark, SF_ORACLE).collect()
    assert rows
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, docs in by_source.items():
        docs.sort(key=lambda r: r["doc_id"])
        cum = 0
        last_seq = 0
        for r in docs:
            assert 0 <= r["seq_offset"] < _PACK_BUDGET, r
            assert r["seq_id"] * _PACK_BUDGET + r["seq_offset"] == cum, r
            assert r["seq_id"] >= last_seq, r
            last_seq = r["seq_id"]
            cum += r["n_tokens"]


def test_text_ops_survive_null_and_empty_docs(spark):
    """Real corpora carry null/empty/whitespace documents; every text
    operator must handle them without crashing and without
    misclassifying (a NULL doc is 'unknown' language, not 'es')."""
    from etl_sendas_spark.functions.text import (
        doc_fingerprint,
        lang_id,
        token_count,
    )
    from etl_sendas_spark.operators.dedupe import (
        exact_dedup,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "   "),
            (4, "real text here with words"),
            (5, "real text here with words"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            lang_id("text").alias("lang"),
            doc_fingerprint("text").alias("fp"),
            token_count("text").alias("tok"),
        ).collect()
    }
    assert rows[1]["lang"] == "unknown" and rows[1]["fp"] is None
    assert rows[2]["lang"] == "unknown"
    # whitespace-only normalizes to the empty doc — same fingerprint
    assert rows[3]["fp"] == rows[2]["fp"]
    assert rows[4]["lang"] == "en"

    # dedup ladder: no crashes; the only true near-dup pair is (4, 5),
    # empty and whitespace-only dedup together, NULL survives alone
    assert sorted(
        r["doc_id"] for r in exact_dedup(df, "text", "doc_id").collect()
    ) == [1, 2, 4]
    jacc = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in jacc} == {(4, 5)}
    mh = minhash_lsh_candidates(df, "doc_id", "text").collect()
    assert {(r["id_a"], r["id_b"]) for r in mh} == {(4, 5)}


def test_snapshot_diff_merge_round_trip(spark):
    """The CDC round-trip law: merge_changes(old, snapshot_diff(old,
    new)) == new — on randomized snapshots including null values and a
    null key."""
    import random

    from etl_sendas_spark.operators.relational import (
        merge_changes,
        snapshot_diff,
    )

    rng = random.Random(7)
    old_rows = [
        (k, rng.choice(["a", "b", None]), float(rng.randrange(100)))
        for k in range(50)
    ] + [(None, "nullkey", 1.0)]
    new_rows = []
    for k, v, x in old_rows:
        r = rng.random()
        if r < 0.2:
            continue  # deleted
        if r < 0.5:
            new_rows.append((k, rng.choice(["a", "c", None]), x + 10.0))
        else:
            new_rows.append((k, v, x))  # unchanged
    new_rows += [(100 + i, "ins", float(i)) for i in range(5)]

    schema = ["k", "v", "x"]
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    feed = snapshot_diff(old, new, keys=["k"])
    # feed is change-sized: unchanged rows emit nothing
    n_same = len(
        {r for r in old_rows} & {r for r in new_rows}
    )
    assert feed.count() <= len(old_rows) + len(new_rows) - 2 * n_same + 2
    merged = merge_changes(old, feed, keys=["k"])
    # None is unorderable against ints — sort on repr for the comparison
    assert sorted(map(tuple, merged.collect()), key=repr) == sorted(
        map(tuple, new.collect()), key=repr
    )


def test_ngram_contamination_planted(spark):
    """A train doc that copies an eval doc scores contamination 1.0;
    an unrelated doc scores 0 and is unflagged."""
    from etl_sendas_spark.operators.decontam import ngram_contamination

    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight nine ten"
    train = spark.createDataFrame(
        [(1, eval_text), (2, other), (3, "alpha beta gamma delta epsilon x y z")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(100, eval_text)], ["doc_id", "text"])
    got = {
        r.doc_id: r
        for r in ngram_contamination(
            train, ev, n=5, threshold=0.1
        ).collect()
    }
    assert got[1].contamination == 1.0 and got[1].contaminated == 1
    assert got[2].n_overlap == 0 and got[2].contaminated == 0
    # doc 3 shares exactly the one leading 5-gram out of its 4
    assert got[3].n_overlap == 1 and got[3].n_grams == 4
    assert got[3].contaminated == 1  # 0.25 >= 0.1


def test_segment_dedup_strips_boilerplate_keeps_order(spark):
    """Cross-doc repeated segments vanish; unique segments survive in
    position order; counts reconcile."""
    from etl_sendas_spark.operators.decontam import segment_dedup

    boiler = " ".join(f"b{i}" for i in range(10))          # shared 10-token run
    u1 = " ".join(f"u{i}" for i in range(10))
    u2 = " ".join(f"v{i}" for i in range(7))               # short tail segment
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {u1} {u2}"),
            (2, f"{boiler} {u1.replace('u', 'w')}"),
            (3, boiler),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in segment_dedup(docs, seg_tokens=10, max_df=1).collect()
    }
    assert got[1].clean_text == f"{u1} {u2}"
    assert got[1].n_segments == 3 and got[1].n_removed == 1
    assert got[2].n_removed == 1 and got[2].clean_text.startswith("w0 ")
    assert got[3].clean_text == "" and got[3].n_removed == 1


def test_gopher_flags_semantics(spark):
    from etl_sendas_spark.functions.text import gopher_quality_flags

    long_good = " ".join(
        ["the yellow cat sleeps on the woven mat with a spotted dog for fun and"] * 5
    )
    short = "tiny doc"
    symbols = " ".join(["the # and # of # to #"] * 16)
    df = spark.createDataFrame(
        [(1, long_good), (2, short), (3, symbols)], ["doc_id", "text"]
    )
    flags = gopher_quality_flags("text")
    got = {
        r.doc_id: r
        for r in df.select("doc_id", *[v.alias(k) for k, v in flags.items()]).collect()
    }
    assert got[1].gopher_keep == 1
    assert got[2].f_word_count == 0 and got[2].gopher_keep == 0
    assert got[3].f_symbol_ratio == 0 and got[3].gopher_keep == 0


def test_substring_dedup_planted_passages(spark):
    """Exact duplicate-substring spans (Lee et al. cut): a passage
    repeated across docs marks every occurrence EXCEPT the global
    first; overlapping duplicate windows merge to one maximal span;
    unique text contributes nothing; punctuation/case differences
    don't defeat the match (canonical tokenizer)."""
    from etl_sendas_spark.operators.dedupe import substring_dedup_spans

    passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    docs = [
        # doc 1: passage at tokens 0..9, then unique tail
        (1, passage + " unique one two three four five six seven"),
        # doc 2: unique head (5 tokens), passage (tokens 5..14), CASED
        (2, "aaa bbb ccc ddd eee " + passage.upper() + "!"),
        # doc 3: all unique
        (3, "nothing here repeats at all in any window of eight tokens"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_id"]): (r["span_start"], r["span_end"], r["n_windows"])
        for r in substring_dedup_spans(df, k=8).collect()
    }
    # doc 1 is the canonical occurrence -> no spans; doc 3 unique.
    # doc 2: the 10-token passage at offset 5 holds 3 duplicate 8-token
    # windows (positions 5,6,7) merging to [5, 15).
    assert got == {2: (5, 15, 3)}

    # intra-doc repetition: second occurrence inside the SAME doc marks
    one = spark.createDataFrame(
        [(7, passage + " filler " + passage)], ["doc_id", "text"]
    )
    rows = substring_dedup_spans(one, k=8).collect()
    assert len(rows) == 1
    r = rows[0]
    # tokens: passage=10, filler at 10, second passage at 11..20 ->
    # duplicate windows at 11,12,13 -> span [11, 21)
    assert (r["span_start"], r["span_end"], r["n_windows"]) == (11, 21, 3)


def test_semantic_dedup_planted_pair(spark):
    """An exact copy of a vector must land in the same cluster (identical
    argmax) and the HIGHER id is flagged; the lower id and unrelated
    orthogonal vectors stay kept. Zero vectors drop out entirely."""
    from etl_sendas_spark.operators.similarity import semantic_dedup

    dim = 8

    def basis(i, scale=1.0):
        v = [0.0] * dim
        v[i % dim] = scale
        return v

    rows = [
        (0, basis(0)),
        (1, basis(1)),
        (2, basis(2)),
        (3, basis(3)),
        # 10 duplicates 0 exactly (scaled copy: cosine 1.0)
        (10, basis(0, 2.5)),
        # zero vector: no norm, excluded from the output
        (99, [0.0] * dim),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = semantic_dedup(
        df, id_col="vec_id", vec_col="embedding", n_clusters=3, threshold=0.99
    )
    got = {r["vec_id"]: (r["cluster"], r["is_dup"]) for r in out.collect()}
    assert 99 not in got
    assert set(got) == {0, 1, 2, 3, 10}
    # copy pairs share a cluster; higher id flagged, lower kept
    assert got[10][0] == got[0][0]
    assert got[0][1] == 0 and got[10][1] == 1
    # orthogonal vectors are never flagged at a 0.99 threshold
    assert got[1][1] == 0 and got[2][1] == 0 and got[3][1] == 0


def test_bigram_lm_scores_hand_computed(spark):
    """Tiny corpus, model checked by hand: vocab_k=2 keeps {a, b} (freq
    3/2), c maps to <unk>; c(a,b)=2, c(b,a)=1, c(a,<unk>)=1; context
    counts a=3, b=1; V+1=3 event types, alpha=0.5. One-token docs drop."""
    import math

    from etl_sendas_spark.functions.text import bigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "a")],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: (r["n_bigrams"], r["lm_score"])
        for r in bigram_lm_scores(docs, vocab_k=2, alpha=0.5).collect()
    }
    assert 3 not in out  # a single token has no bigram
    lp_ab = math.log((2 + 0.5) / (3 + 0.5 * 3))
    lp_ba = math.log((1 + 0.5) / (1 + 0.5 * 3))
    lp_au = math.log((1 + 0.5) / (3 + 0.5 * 3))
    assert out[1] == (3, round((2 * lp_ab + lp_ba) / 3, 6))
    assert out[2] == (1, round(lp_au, 6))
    # the OOV transition is rarer than the dominant (a,b) transition
    assert out[2][1] < round(lp_ab, 6)


def test_semantic_dedup_numpy_backend_matches_exact(spark):
    """The BLAS assignment backend must reproduce the exact path's
    clusters and flags on the test corpus — including tie-breaks on
    exactly-equal centroid copies (both paths pick the lowest
    centroid_id)."""
    from etl_sendas_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(SF_ORACLE + "/embeddings.parquet")
    ex = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in semantic_dedup(emb, n_clusters=16, threshold=0.40).collect()
    }
    np_ = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in semantic_dedup(
            emb, n_clusters=16, threshold=0.40, assign_backend="numpy"
        ).collect()
    }
    assert ex == np_


def test_cosine_topk_numpy_backend_matches_exact(spark):
    """BLAS scoring must reproduce the exact path's top-k (6-decimal
    rounding happens before ranking in both backends)."""
    from etl_sendas_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(SF_ORACLE + "/embeddings.parquet")
    queries = emb.filter("vec_id < 10")
    ex = sorted(
        tuple(r) for r in cosine_topk(emb, queries, k=5).collect()
    )
    np_ = sorted(
        tuple(r) for r in cosine_topk(emb, queries, k=5, backend="numpy").collect()
    )
    assert ex == np_


def test_minhash_incremental_matches_batch_and_append_law(spark):
    """Two laws for the ingest-wave near-dup path: (1) incremental
    pairs over a corpus split equal the batch LSH pairs restricted to
    wave-involving pairs (same family, same verification — only the
    probe order differs); (2) minhash_index_append keeps history
    canonical: appended index = old index ∪ wave survivors, and a doc
    dropped as a dup never re-enters."""
    from etl_sendas_spark.operators.dedupe import (
        minhash_index_append,
        minhash_lsh_candidates,
        minhash_lsh_incremental,
        minhash_lsh_index,
    )
    from etl_sendas_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    old = docs.filter(F.col("doc_id") % 3 != 2)
    wave = docs.filter(F.col("doc_id") % 3 == 2)

    batch = minhash_lsh_candidates(docs, "doc_id", "text").collect()
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in batch
        if r["id_a"] % 3 == 2 or r["id_b"] % 3 == 2
    }
    assert want, "vacuous: no wave-involving pairs at this SF"

    index = minhash_lsh_index(old)
    wave_index = minhash_lsh_index(wave)
    inc_df = minhash_lsh_incremental(index, wave_index)
    inc = inc_df.collect()
    got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in inc}
    assert got == want
    # origin labels agree with the split
    for r in inc:
        both_wave = r["id_a"] % 3 == 2 and r["id_b"] % 3 == 2
        assert r["origin"] == ("wave-wave" if both_wave else "wave-index")

    # append law
    appended = minhash_index_append(index, wave_index, inc_df)
    old_ids = {r["doc_id"] for r in index.select("doc_id").collect()}
    wave_ids = {r["doc_id"] for r in wave_index.select("doc_id").collect()}
    dropped = set()
    for r in inc:
        if r["origin"] == "wave-wave":
            dropped.add(r["id_b"])
        else:
            dropped.add(r["id_a"] if r["id_a"] in wave_ids else r["id_b"])
    got_ids = {r["doc_id"] for r in appended.select("doc_id").collect()}
    assert got_ids == old_ids | (wave_ids - dropped)


def test_corpus_refresh_crash_recovery_and_near_dup(spark, tmp_path):
    """Incremental corpus refresh (round 9, plans/corpus_refresh.py):
    (1) a wave that crashed after committing to ONE state table
    replays deterministically — time travel reads each table's
    pre-wave snapshot, so the completed state equals a clean run's on
    a parallel copy; (2) with near-dup on, a planted near-copy of an
    indexed doc rejects while a fresh doc survives."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.functions.text import doc_fingerprint
    from etl_sendas_spark.plans.corpus_refresh import corpus_refresh_step
    from etl_sendas_spark.sources.txlog import TxLogTable

    base_text = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "chases the fox around the field for hours in the warm sun "
    ) * 4
    near_text = base_text + "with one extra trailing clause at the end"
    fresh_text = (
        "completely different subject matter about database engines and "
        "the storage layouts that make large scans fast in practice "
    ) * 4

    def df(rows):
        return spark.createDataFrame(rows, "doc_id LONG, text STRING")

    wave1 = df([(1, base_text), (2, fresh_text)])
    other_text = (
        "meanwhile the harbor town prepared for the winter festival "
        "with lanterns strung between the masts of the fishing boats "
    ) * 4
    wave2 = df([(10, near_text), (11, other_text)])

    # --- near-dup rejection against the index -----------------------
    root = str(tmp_path / "nd")
    s1 = corpus_refresh_step(spark, root, wave1, "w1")
    assert s1["accepted"] == 2
    s2 = corpus_refresh_step(spark, root, wave2, "w2")
    assert s2["rejected_near"] == 1 and s2["accepted"] == 1
    kept = {r.doc_id for r in TxLogTable(f"{root}/docs").read(spark).collect()}
    assert kept == {1, 2, 11}

    # --- crash recovery: wave partially landed (fps only) -----------
    clean = str(tmp_path / "clean")
    crash = str(tmp_path / "crash")
    for r in (clean, crash):
        corpus_refresh_step(spark, r, wave1, "w1")
    # simulate the crash: wave2's fps land, docs/mh do not
    wave2_q = wave2  # both rows pass quality by construction
    fps_rows = wave2_q.filter(F.col("doc_id") == 11).select(
        doc_fingerprint(F.col("text")).alias("fp")
    )
    TxLogTable(f"{crash}/fps").append(
        fps_rows, spark, extra={"wave_id": "w2"}
    )
    # redelivery completes the missing tables with the SAME survivors
    corpus_refresh_step(spark, clean, wave2, "w2")
    s_crash = corpus_refresh_step(spark, crash, wave2, "w2")
    assert s_crash["fps_version"] == "already"
    assert s_crash["docs_version"] != "already"
    for sub in ("docs", "fps", "mh"):
        a = sorted(
            map(tuple, TxLogTable(f"{clean}/{sub}").read(spark)
                .select(TxLogTable(f"{clean}/{sub}").read(spark).columns[0])
                .collect())
        )
        b = sorted(
            map(tuple, TxLogTable(f"{crash}/{sub}").read(spark)
                .select(TxLogTable(f"{crash}/{sub}").read(spark).columns[0])
                .collect())
        )
        assert a == b, sub


def test_stream_corpus_refresh_ingests_waves_exactly_once(spark, tmp_path):
    """Streaming corpus refresh: files arriving as micro-batches flow
    through the full wave ladder; a restart from a FRESH checkpoint
    replays earlier batches whose wave tags make the replay a no-op —
    the corpus equals one clean pass, never a double-ingest."""
    import time

    from pyspark.sql import functions as F

    from etl_sendas_spark.plans.corpus_refresh import stream_corpus_refresh
    from etl_sendas_spark.sources.txlog import TxLogTable

    src_dir = str(tmp_path / "incoming")
    root = str(tmp_path / "corpus")
    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .limit(60)
    )
    docs.coalesce(1).write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    def drain(ck):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = stream_corpus_refresh(
            stream, root, ck, with_near_dup=False
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                time.sleep(0.5)
                p = q.lastProgress
                if p and p["numInputRows"] == 0 and q.status["isDataAvailable"] is False:
                    break
        finally:
            q.stop()

    drain(str(tmp_path / "ck1"))
    t = TxLogTable(f"{root}/docs")
    first = sorted(r.doc_id for r in t.read(spark).collect())
    assert first  # something landed

    # fresh checkpoint: every file replays as new batch ids — but the
    # CONTENT is the same docs, so exact dedup vs the fps index drops
    # them all; corpus unchanged
    drain(str(tmp_path / "ck2"))
    again = sorted(r.doc_id for r in TxLogTable(f"{root}/docs").read(spark).collect())
    assert again == first


def test_corpus_refresh_manifest_never_exposes_torn_wave(spark, tmp_path):
    """Root-level manifest (round 10, VERDICT r9 #7): a wave is
    VISIBLE to corpus_snapshot readers only when its one atomic
    manifest record lands — a crash between table commits (docs
    landed, fps raised) leaves the snapshot at the previous consistent
    triple even though the docs table's HEAD already carries the
    wave's rows; redelivery completes the missing commits and
    publishes, after which the snapshot shows exactly one copy of the
    wave. Legacy roots without a manifest fall back to head reads."""
    import pytest as _pytest

    from etl_sendas_spark.plans.corpus_refresh import (
        corpus_refresh_step,
        corpus_snapshot,
    )
    from etl_sendas_spark.sources.txlog import MetaLog, TxLogTable

    text_a = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "chases the fox around the field for hours in the warm sun "
    ) * 4
    text_b = (
        "completely different subject matter about database engines and "
        "the storage layouts that make large scans fast in practice "
    ) * 4
    text_c = (
        "meanwhile the harbor town prepared for the winter festival "
        "with lanterns strung between the masts of the fishing boats "
    ) * 4

    def df(rows):
        return spark.createDataFrame(rows, "doc_id LONG, text STRING")

    root = str(tmp_path / "m")
    s1 = corpus_refresh_step(spark, root, df([(1, text_a), (2, text_b)]), "w1")
    assert s1["manifest_version"] == 0
    snap1, pins1 = corpus_snapshot(spark, root)
    assert {r.doc_id for r in snap1.collect()} == {1, 2}
    assert pins1["wave_id"] == "w1"

    # crash injection: wave-2's fps append raises AFTER docs landed
    orig_append = TxLogTable.append
    crash_on = [True]

    def crashing(self, df_, spark_, **kw):
        if crash_on[0] and self.root.endswith("fps"):
            raise RuntimeError("injected crash before fps commit")
        return orig_append(self, df_, spark_, **kw)

    TxLogTable.append = crashing
    try:
        with _pytest.raises(RuntimeError, match="injected"):
            corpus_refresh_step(spark, root, df([(3, text_c)]), "w2")
    finally:
        TxLogTable.append = orig_append

    # torn state on disk: docs head has w2, manifest does not
    docs_t = TxLogTable(f"{root}/docs")
    assert {r.doc_id for r in docs_t.read(spark).collect()} == {1, 2, 3}
    snap_torn, pins_torn = corpus_snapshot(spark, root)
    assert {r.doc_id for r in snap_torn.collect()} == {1, 2}  # w2 invisible
    assert pins_torn["wave_id"] == "w1"

    # redelivery completes fps/mh and publishes the wave atomically
    s2 = corpus_refresh_step(spark, root, df([(3, text_c)]), "w2")
    assert s2["docs_version"] == "already"
    assert s2["fps_version"] != "already"
    assert isinstance(s2["manifest_version"], int)
    snap2, pins2 = corpus_snapshot(spark, root)
    assert {r.doc_id for r in snap2.collect()} == {1, 2, 3}
    assert pins2["wave_id"] == "w2"
    # exactly one w2 commit per table
    for sub in ("docs", "fps", "mh"):
        t = TxLogTable(f"{root}/{sub}")
        tagged = [
            v for v in t.versions()
            if t.commit_meta(v).get("wave_id") == "w2"
        ]
        assert len(tagged) == 1, sub

    # idempotent redelivery of a PUBLISHED wave: everything "already"
    s3 = corpus_refresh_step(spark, root, df([(3, text_c)]), "w2")
    assert s3["manifest_version"] == "already"
    assert s3["docs_version"] == "already"

    # legacy root (no manifest): snapshot falls back to head reads
    legacy = str(tmp_path / "legacy")
    corpus_refresh_step(spark, legacy, df([(7, text_a)]), "w1")
    import shutil

    shutil.rmtree(f"{legacy}/_manifest")
    snap_l, pins_l = corpus_snapshot(spark, legacy)
    assert pins_l == {} and {r.doc_id for r in snap_l.collect()} == {7}


# Documents that pass the Gopher panel (about 96 words each), a
# near-copy of the first, and one that fails it (too few words).
_TEXT_A = (
    "the quick brown fox jumps over the lazy dog and then the dog "
    "chases the fox around the field for hours in the warm sun "
) * 4
_TEXT_B = (
    "completely different subject matter about database engines and "
    "the storage layouts that make large scans fast in practice "
) * 4
_TEXT_C = (
    "meanwhile the harbor town prepared for the winter festival "
    "with lanterns strung between the masts of the fishing boats "
) * 4
_TEXT_D = (
    "a long letter arrived from the mountains describing the old "
    "railway line and the people who still walk along it each spring "
) * 4
_NEAR_A = _TEXT_A + "with one extra trailing clause at the end"
_LOW = "buy cheap pills now"


def _wave(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _corpus_state(spark, root):
    """Sorted rows of the three state tables (arrays as tuples)."""
    from etl_sendas_spark.sources.txlog import TxLogTable

    def key(row):
        return tuple(tuple(v) if isinstance(v, list) else v for v in row)

    return {
        sub: sorted(key(r) for r in TxLogTable(f"{root}/{sub}").read(spark).collect())
        for sub in ("docs", "fps", "mh")
    }


def test_corpus_refresh_equal_under_every_pin_strategy(spark, tmp_path):
    """The refresh result does not depend on how the wave frame is
    pinned: a fresh wave, a wave of exact copies, near copies, a
    low-quality doc and a fresh doc, then a redelivery of that wave
    give the same summaries and the same docs/fps/mh contents under
    every ``spark.etl_sendas.materialize`` strategy."""
    from etl_sendas_spark.materialize import CONF_STRATEGY
    from etl_sendas_spark.plans.corpus_refresh import corpus_refresh_step

    waves = [
        ("w1", [(1, _TEXT_A), (2, _TEXT_B), (3, _TEXT_C)]),
        ("w2", [(10, _TEXT_A.upper()), (11, _NEAR_A), (12, _LOW),
                (13, _TEXT_D), (14, None)]),
        ("w2", [(10, _TEXT_A.upper()), (11, _NEAR_A), (12, _LOW),
                (13, _TEXT_D), (14, None)]),
    ]
    old = spark.conf.get(CONF_STRATEGY, None)
    results = {}
    try:
        for strategy in ("local", "reliable", "parquet", "none"):
            spark.conf.set(CONF_STRATEGY, strategy)
            root = str(tmp_path / strategy)
            summaries = [
                corpus_refresh_step(spark, root, _wave(spark, rows), wid)
                for wid, rows in waves
            ]
            results[strategy] = (summaries, _corpus_state(spark, root))
    finally:
        if old is None:
            spark.conf.unset(CONF_STRATEGY)
        else:
            spark.conf.set(CONF_STRATEGY, old)
    summaries, state = results["local"]
    assert [s["accepted"] for s in summaries] == [3, 1, 1]
    assert summaries[1]["rejected_exact"] == 1
    assert summaries[1]["rejected_near"] == 1
    assert summaries[1]["rejected_quality"] == 1
    assert summaries[2]["manifest_version"] == "already"
    assert {r[0] for r in state["docs"]} == {1, 2, 3, 13}
    for strategy, got in results.items():
        assert got == results["local"], strategy


def test_corpus_refresh_all_low_quality_wave(spark, tmp_path):
    """A wave in which every doc fails the quality gate accepts
    nothing, yet still advances the manifest by one record, and the
    reader's snapshot is unchanged."""
    from etl_sendas_spark.plans.corpus_refresh import (
        corpus_refresh_step,
        corpus_snapshot,
    )
    from etl_sendas_spark.sources.txlog import Catalog

    root = str(tmp_path / "q")
    corpus_refresh_step(spark, root, _wave(spark, [(1, _TEXT_A), (2, _TEXT_B)]), "w1")
    before = sorted(map(tuple, corpus_snapshot(spark, root)[0].collect()))
    s = corpus_refresh_step(
        spark, root, _wave(spark, [(5, _LOW), (6, "tiny"), (7, "")]), "w2"
    )
    assert s["wave_rows"] == 3 and s["rejected_quality"] == 3
    assert s["accepted"] == 0
    assert s["manifest_version"] == 1
    assert len(Catalog(f"{root}/_manifest").versions()) == 2
    snap, pins = corpus_snapshot(spark, root)
    assert pins["wave_id"] == "w2"
    assert sorted(map(tuple, snap.collect())) == before


def test_corpus_refresh_in_wave_pairs_keep_lower_id(spark, tmp_path):
    """An exact pair and a near pair inside one wave (origin
    wave-wave): the lower id of each pair survives."""
    from etl_sendas_spark.plans.corpus_refresh import corpus_refresh_step
    from etl_sendas_spark.sources.txlog import TxLogTable

    root = str(tmp_path / "ww")
    s = corpus_refresh_step(
        spark, root,
        _wave(spark, [(21, _TEXT_B), (20, _TEXT_B + " !"),
                      (30, _TEXT_A), (31, _NEAR_A)]),
        "w1",
    )
    assert s["rejected_exact"] == 1 and s["rejected_near"] == 1
    assert s["accepted"] == 2
    kept = {r.doc_id for r in TxLogTable(f"{root}/docs").read(spark).collect()}
    assert kept == {20, 30}


def test_corpus_refresh_null_text_rows_are_not_wave_rows(spark, tmp_path):
    """Rows with NULL text are dropped before the gates: they count in
    no gate and never land."""
    from etl_sendas_spark.plans.corpus_refresh import corpus_refresh_step
    from etl_sendas_spark.sources.txlog import TxLogTable

    root = str(tmp_path / "n")
    s = corpus_refresh_step(
        spark, root,
        _wave(spark, [(1, _TEXT_A), (2, None), (3, _TEXT_C), (4, None)]),
        "w1",
    )
    assert s["wave_rows"] == 2 and s["rejected_quality"] == 0
    assert s["accepted"] == 2
    kept = {r.doc_id for r in TxLogTable(f"{root}/docs").read(spark).collect()}
    assert kept == {1, 3}


def test_corpus_refresh_wave_job_budget(spark, tmp_path):
    """Hard budget on the Spark jobs of one steady-state wave (the
    index tables exist): 29 measured on local[8] with 4 shuffle
    partitions (58 before the wave frame was pinned once) — the pin of
    the wave frame, the two snapshot reads, the one counting pass that
    takes every gate decision, and three landings. A stray count(), a re-shingle of the wave or a second
    probe must turn this red; raise the budget only with a measured
    reason."""
    from etl_sendas_spark.plans.corpus_refresh import corpus_refresh_step

    root = str(tmp_path / "jobs")
    corpus_refresh_step(spark, root, _wave(spark, [(1, _TEXT_A), (2, _TEXT_B)]), "w1")
    sc = spark.sparkContext
    group = f"corpus-wave-budget-{id(tmp_path)}"
    sc.setJobGroup(group, "one steady-state corpus wave")
    try:
        s = corpus_refresh_step(
            spark, root,
            _wave(spark, [(10, _NEAR_A), (11, _TEXT_C), (12, _TEXT_B), (13, _LOW)]),
            "w2",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert s["accepted"] == 1
    n = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n <= 29, f"jobs per corpus wave grew to {n} (budget 29)"
