"""Information-theoretic quality signals (functions/text.py round-6
additions): char_entropy pinned to a hand-computed reference and to its
plan contract (pure codegen, no explode/UDF/shuffle), compression_ratio
held to the Python zlib reference byte-for-byte."""

from __future__ import annotations

import math
import re
import zlib

from pyspark.sql import functions as F

from etl_sendas_spark.functions.text import (
    _ENTROPY_ALPHABET,
    char_entropy,
    compression_ratio,
)

ROWS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "aaaaaaaaaaaaaaaaaaaa"),
    (2, ""),
    (3, None),
    (4, "abc ABC a-b-c 123!!!"),  # normalization folds case/punct
    (5, "qwrtpsdfgh zxcvb 0192837465" * 3),
]


def _py_entropy(t):
    if t is None:
        return 0.0
    s = re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
    if not s:
        return 0.0
    n = len(s)
    acc = sum(
        s.count(ch) * math.log2(s.count(ch))
        for ch in _ENTROPY_ALPHABET
        if s.count(ch) > 0
    )
    return round(math.log2(n) - acc / n, 6)


def _df(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_char_entropy_matches_reference_and_bounds(spark):
    got = {
        r["doc_id"]: r["e"]
        for r in _df(spark).select("doc_id", char_entropy("text").alias("e")).collect()
    }
    for i, t in ROWS:
        assert abs(got[i] - _py_entropy(t)) < 2e-6, (i, got[i], _py_entropy(t))
    assert got[1] == 0.0  # single repeated char carries no information
    assert got[2] == 0.0 and got[3] == 0.0  # empty/NULL -> 0
    # bounded by log2(alphabet)
    assert all(0.0 <= v <= math.log2(len(_ENTROPY_ALPHABET)) + 1e-9 for v in got.values())
    # prose > repeated junk
    assert got[0] > 3.0


def test_char_entropy_plan_is_scan_local_codegen(spark):
    out = _df(spark).select(char_entropy("text").alias("e"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # executedPlan().toString() renders whole-stage codegen as "*(n)"
    assert "*(1)" in plan


def test_compression_ratio_matches_zlib(spark):
    got = {
        r["doc_id"]: r["z"]
        for r in _df(spark)
        .select("doc_id", compression_ratio("text").alias("z"))
        .collect()
    }
    for i, t in ROWS:
        exp = (
            None
            if not t
            else round(len(zlib.compress(t.encode("utf-8"), 6)) / len(t.encode("utf-8")), 6)
        )
        assert got[i] == exp, (i, got[i], exp)
    # boilerplate repetition compresses far better than prose
    assert got[5] < got[0]


def test_add_char_entropy_backends_agree_and_hoist_plan(spark):
    """Arrow backend == exact backend on real corpus text (same
    alphabet-ordered float sum, same 6-dp round), and the hoisted
    exact plan contains exactly ONE regexp_replace — the measured
    CSE trap (BASELINE.md round 6) stays fixed."""
    from conftest import SF_ORACLE
    from etl_sendas_spark.functions.text import add_char_entropy

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    exact = add_char_entropy(docs, "text", "e")
    arrow = add_char_entropy(docs, "text", "e", backend="arrow")
    a = {r["doc_id"]: r["e"] for r in exact.select("doc_id", "e").collect()}
    b = {r["doc_id"]: r["e"] for r in arrow.select("doc_id", "e").collect()}
    assert a == b
    plan = exact.select("e")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_replace") == 1
    # inline form == hoisted form (hoisting only dedupes evaluation)
    inline = {
        r["doc_id"]: r["e"]
        for r in docs.select(
            "doc_id",
            __import__(
                "etl_sendas_spark.functions.text", fromlist=["char_entropy"]
            ).char_entropy("text").alias("e"),
        ).collect()
    }
    assert inline == a


# ---------------------------------------------------------------------------
# trained n-gram language ID (functions/text.langid_train / langid_score)
# ---------------------------------------------------------------------------

_LID_SENTS = {
    "en": [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "she was walking through the forest when the rain started falling",
        "this is the most important thing that we have learned this year",
        "children often think that everything in the world belongs to them",
    ],
    "es": [
        "el rapido zorro marron salta sobre el perro perezoso junto al rio",
        "ella caminaba por el bosque cuando la lluvia comenzo a caer fuerte",
        "esta es la cosa mas importante que hemos aprendido este ano juntos",
        "los ninos piensan que todas las cosas del mundo les pertenecen",
    ],
    "de": [
        "der schnelle braune fuchs springt ueber den faulen hund am fluss",
        "sie ging durch den wald als der regen zu fallen begann und wurde nass",
        "das ist die wichtigste sache die wir dieses jahr gelernt haben",
        "kinder denken oft dass ihnen alles auf der welt gehoert und bleibt",
    ],
}


def test_langid_ngram_discriminates_real_languages(spark):
    """Train on three sentences per language, classify the held-out
    fourth: every held-out sentence must come back with its own
    language (real discrimination, which the synthetic driver corpus
    cannot exercise — its lang labels are decorative)."""
    from etl_sendas_spark.functions.text import langid_score, langid_train

    train_rows, test_rows = [], []
    i = 0
    for lang, sents in _LID_SENTS.items():
        for s in sents[:3]:
            train_rows.append((i, s, lang))
            i += 1
        test_rows.append((i, sents[3], lang))
        i += 1
    train = spark.createDataFrame(train_rows, "doc_id long, text string, lang string")
    test = spark.createDataFrame(test_rows, "doc_id long, text string, lang string")

    prof = langid_train(train, k=100)
    pred = langid_score(test, prof, k=100)
    got = {r["doc_id"]: r["lang_pred"] for r in pred.collect()}
    want = {i: lang for i, _s, lang in test_rows}
    assert got == want

    # determinism + plan shape: broadcast model join, no doc-side
    # nested loop, map-side group limit for the per-doc top-k
    again = {r["doc_id"]: r["lang_pred"] for r in langid_score(test, prof, k=100).collect()}
    assert again == got
    plan = langid_score(test, prof, k=100)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan


def test_langid_train_score_equals_two_pass_form(spark):
    """The one-explode self-train form (langid_train_score: trigram
    explode pinned once, both profile aggregates read the pin) must be
    row-identical to langid_score(df, langid_train(df)) — the
    equivalence that let the registered query drop its second
    corpus-sized explode in round 7. Covers every materialize strategy
    knob (local / parquet / none)."""
    from etl_sendas_spark.functions.text import (
        langid_score,
        langid_train,
        langid_train_score,
    )

    rows, i = [], 0
    for lang, sents in _LID_SENTS.items():
        for s in sents:
            rows.append((i, s, lang))
            i += 1
    rows += [(i, "ab", "en"), (i + 1, None, "fr")]  # no-trigram edges
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    two_pass = {
        (r["doc_id"], r["lang_pred"], r["distance"])
        for r in langid_score(df, langid_train(df, k=60), k=60).collect()
    }
    for strategy in ("local", "parquet", "none"):
        fused = {
            (r["doc_id"], r["lang_pred"], r["distance"])
            for r in langid_train_score(df, k=60, strategy=strategy).collect()
        }
        assert fused == two_pass, strategy


def test_langid_short_and_empty_docs_absent(spark):
    """Documents with no trigrams (len<3 after normalization) produce
    no prediction row — no evidence, no guess."""
    from etl_sendas_spark.functions.text import langid_score, langid_train

    train = spark.createDataFrame(
        [(0, _LID_SENTS["en"][0], "en")], "doc_id long, text string, lang string"
    )
    prof = langid_train(train, k=50)
    docs = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, None), (4, "the the the")],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in langid_score(docs, prof, k=50).collect()}
    assert got == {4}
