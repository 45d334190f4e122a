"""Unit semantics for the retrieval / SCD2 / URL additions — the oracle
parity sweep (test_oracle_parity) covers the full-table runs; these pin
the hand-checkable edge behavior."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_sendas_spark.functions.urls import (
    canonical_url,
    url_host,
    url_path,
    url_query_clean,
)
from etl_sendas_spark.operators.relational import scd2_history
from etl_sendas_spark.operators.search import bm25_topk

from conftest import SF_ORACLE


def test_bm25_hand_computed(spark):
    """3-doc corpus, 1 query: scores match the Okapi formula computed
    by hand (k1=1.2, b=0.75, idf = ln((N-df+.5)/(df+.5)+1))."""
    docs = spark.createDataFrame(
        [
            (1, "spark join join"),        # dl=3, tf(join)=2
            (2, "spark scan"),             # dl=2
            (3, "sort merge window"),      # dl=3, no match
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(docs, [(1, "join")], k=10).collect()
    }
    # N=3, avgdl=8/3; df(join)=1 -> idf=ln(2.5/1.5+1)
    idf = math.log((3 - 1 + 0.5) / (1 + 0.5) + 1.0)
    dl = 3
    tf = 2
    denom = tf + 1.2 * (1 - 0.75 + 0.75 * dl / (8 / 3))
    expected = round(idf * tf * 2.2 / denom, 6)
    assert set(out) == {1}  # only doc 1 matches
    assert abs(out[1] - expected) < 1e-6


def test_bm25_rarer_term_scores_higher(spark):
    """A term appearing in fewer docs outranks a common term at equal
    tf/dl — the IDF property that makes BM25 a retrieval function and
    not a word count."""
    docs = spark.createDataFrame(
        [(i, "common rare" if i == 0 else "common filler") for i in range(10)],
        "doc_id LONG, text STRING",
    )
    rows = bm25_topk(docs, [(1, "common rare")], k=1).collect()
    assert rows[0]["doc_id"] == 0


def test_scd2_history_segments(spark):
    """Consecutive-run collapse, interval chaining, is_current, and a
    state that REVISITS an earlier value must open a new interval."""
    ev = spark.createDataFrame(
        [
            (1, 1, "a"), (1, 2, "a"), (1, 3, "b"), (1, 4, "a"),
            (2, 1, "x"),
        ],
        "k LONG, seq LONG, st STRING",
    )
    hist = scd2_history(ev, "k", ["seq"], "st").collect()
    by_key = {}
    for r in hist:
        by_key.setdefault(r["k"], []).append(r)
    k1 = sorted(by_key[1], key=lambda r: r["valid_from"])
    assert [(r["state"], r["valid_from"], r["valid_to"], r["n_events"]) for r in k1] == [
        ("a", 1, 3, 2), ("b", 3, 4, 1), ("a", 4, None, 1)
    ]
    assert [r["is_current"] for r in k1] == [False, False, True]
    assert by_key[2][0]["state"] == "x" and by_key[2][0]["is_current"]


def test_scd2_null_state_is_a_segment(spark):
    """NULL state forms its own interval (null-safe change compare),
    not a crash or a merge with its neighbors."""
    ev = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, None), (1, 3, None), (1, 4, "a")],
        "k LONG, seq LONG, st STRING",
    )
    hist = sorted(
        scd2_history(ev, "k", ["seq"], "st").collect(),
        key=lambda r: r["valid_from"],
    )
    assert [(r["state"], r["n_events"]) for r in hist] == [
        ("a", 1), (None, 2), ("a", 1)
    ]


def test_url_edge_cases(spark):
    cases = [
        # (raw, host, path, query_clean, canonical)
        ("http://WWW.Ex.COM:80/a/b/?utm_x=1#f",
         "ex.com", "/a/b", None, "https://ex.com/a/b"),
        ("https://ex.com:8080/a",            # non-default port KEPT
         "ex.com:8080", "/a", None, "https://ex.com:8080/a"),
        ("https://ex.com",                   # empty path -> '/'
         "ex.com", "/", None, "https://ex.com/"),
        ("https://ex.com/?a=1&utm_b=2&c=3",  # utm mid-query
         "ex.com", "/", "a=1&c=3", "https://ex.com/?a=1&c=3"),
        ("https://ex.com/p?utm_a=1&utm_b=2", # utm-only -> NULL query
         "ex.com", "/p", None, "https://ex.com/p"),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "url STRING")
    u = F.col("url")
    rows = df.select(
        "url",
        url_host(u).alias("h"),
        url_path(u).alias("p"),
        url_query_clean(u).alias("q"),
        canonical_url(u).alias("c"),
    ).collect()
    got = {r["url"]: (r["h"], r["p"], r["q"], r["c"]) for r in rows}
    for raw, h, p, q, c in cases:
        assert got[raw] == (h, p, q, c), (raw, got[raw])


def test_bm25_postings_filtered_before_shuffle(spark):
    """Plan shape: the explode's output is filtered by the query
    vocabulary IN-list before any Exchange — the corpus-sized shuffle
    carries only matching postings."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(20)],
        "doc_id LONG, text STRING",
    )
    plan = bm25_topk(docs, [(1, "alpha")], k=3)._jdf.queryExecution().executedPlan().toString()
    gen, exch = plan.find("Generate explode"), plan.find("Exchange")
    assert gen != -1 and exch != -1
    # the token IN-filter appears BELOW the first Exchange in the printed
    # tree (i.e. earlier in execution): the shuffle input is pre-filtered
    assert plan.find("alpha", exch) != -1


def test_bm25_large_vocabulary_broadcast_path(spark):
    """Above _VOCAB_ISIN_MAX distinct query terms the postings filter
    must route through a broadcast LEFT SEMI join (an isin literal that
    size makes plan compilation the bottleneck), and both routes must
    score identically."""
    import etl_sendas_spark.operators.search as search

    docs = spark.createDataFrame(
        [(i, f"term{i % 50} term{(i * 7) % 50} filler{i}") for i in range(200)],
        "doc_id LONG, text STRING",
    )
    # ~3 distinct tokens per query x 3500 queries >> 2048 distinct terms
    big = [(q, f"term{q % 50} rare{q} rare{q * 2 + 1}") for q in range(3500)]
    n_terms = len({t for _, s in big for t in search._py_tokens(s)})
    assert n_terms > search._VOCAB_ISIN_MAX

    out = search.bm25_topk(docs, big, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # broadcast semi-join, not an isin literal
    # the compiled plan must not embed the vocabulary as a literal
    assert plan.count("rare1000") == 0

    # parity with the literal path on a workload both can take
    small = big[:100]
    got_small = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in search.bm25_topk(docs, small, k=3).collect()
    }
    orig = search._VOCAB_ISIN_MAX
    try:
        search._VOCAB_ISIN_MAX = 0  # force the broadcast route
        got_bcast = {
            (r["query_id"], r["doc_id"]): r["score"]
            for r in search.bm25_topk(docs, small, k=3).collect()
        }
    finally:
        search._VOCAB_ISIN_MAX = orig
    assert got_small == got_bcast and len(got_small) > 0


def test_phrase_match_repeated_tokens(spark):
    """A phrase with a repeated token must not double-count a single
    posting: 'a a' matches 'x a a b' once at pos 2, 'a a a' twice
    (overlapping anchors), and 'a b a' never."""
    from etl_sendas_spark.operators.search import phrase_match

    docs = spark.createDataFrame(
        [(1, "x a a b"), (2, "a a a"), (3, "a b a")],
        "doc_id LONG, text STRING",
    )
    got = {
        r["doc_id"]: (r["first_pos"], r["n_occurrences"])
        for r in phrase_match(docs, ["a", "a"]).collect()
    }
    assert got == {1: (2, 1), 2: (1, 2)}


def test_weighted_sample_is_deterministic_and_biased(spark):
    """Same input -> same sample (hash-derandomized), and a sample
    weighted by a 100x weight column must over-represent heavy rows
    relative to their population share (deterministic fixture, so this
    either always holds or the sampler is wrong)."""
    from etl_sendas_spark.operators.sampling import weighted_sample_k

    rows = [(i, 1000 if i % 10 == 0 else 10) for i in range(400)]
    df = spark.createDataFrame(rows, "id LONG, w LONG")
    s1 = sorted(r["id"] for r in weighted_sample_k(df, "id", "w", 40).collect())
    s2 = sorted(r["id"] for r in weighted_sample_k(df, "id", "w", 40).collect())
    assert s1 == s2 and len(s1) == 40
    heavy = sum(1 for i in s1 if i % 10 == 0)
    # heavy rows are 10% of the population but carry ~91% of the mass
    assert heavy > 20


def test_quality_deciles_no_global_window(spark):
    """The decile assignment must not compile to a single-partition
    global Window/ntile: the thresholds reduce to one broadcast row and
    the assignment is scan-local."""
    from conftest import SF_SMOKE

    from etl_sendas_spark.plans.inventory import quality_deciles_docs

    plan = (
        quality_deciles_docs(spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "Broadcast" in plan


def test_hard_negatives_all_cross_label(spark):
    """Every mined negative must carry a label different from its
    query's — and for a query with in-class near-duplicates the
    same-label twin must NOT appear even if it is the global nearest."""
    from etl_sendas_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.14], 0),   # same-label near-twin of 0
        (2, [0.9, 0.43], 1),
        (3, [0.0, 1.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label INT"
    )
    out = hard_negatives(df, df.filter("vec_id = 0"), k=2).collect()
    ids = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids == [2, 3]  # 1 excluded despite being nearest


def test_union_with_evolution_widening_rules(spark):
    """int widens to bigint, float to double, string-vs-int conflicts
    fall back to string, and missing columns null-fill."""
    from etl_sendas_spark.sources.readers import union_with_evolution

    a = spark.createDataFrame([(1, 1.5, "x")], "k INT, v FLOAT, s STRING")
    b = spark.createDataFrame([(2**40, 2.5, 7)], "k BIGINT, v DOUBLE, s INT")
    c = spark.createDataFrame([(3,)], "k INT")
    out = union_with_evolution([a, b, c])
    types = dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)
    assert types == {"k": "bigint", "v": "double", "s": "string"}
    rows = {r["k"]: (r["v"], r["s"]) for r in out.collect()}
    assert rows[1] == (1.5, "x")
    assert rows[2**40] == (2.5, "7")
    assert rows[3] == (None, None)


def test_operator_input_guards(spark):
    """Bad parameters fail fast with a clear message, not deep inside
    a job: empty query and phrase lists."""
    import pytest

    from etl_sendas_spark.operators.search import phrase_match

    df = spark.createDataFrame([(1, "x", 1.0)], "k LONG, t STRING, v DOUBLE")
    with pytest.raises(ValueError, match="empty query"):
        bm25_topk(df, [], text_col="t", id_col="k")
    with pytest.raises(ValueError, match="empty phrase"):
        phrase_match(df, [], text_col="t", id_col="k")


def test_weighted_sample_rejects_nonpositive_weights(spark):
    """Zero/negative/null weights would produce -inf or negative sort
    keys that deterministically win the top-k; the documented 'weights
    must be > 0' contract is enforced row-side."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from etl_sendas_spark.operators.sampling import weighted_sample_k

    good = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "id STRING, w DOUBLE"
    )
    assert weighted_sample_k(good, "id", "w", 2).count() == 2
    for bad_w in (0.0, -1.0, None):
        bad = spark.createDataFrame(
            [("a", 1.0), ("z", bad_w)], "id STRING, w DOUBLE"
        )
        with pytest.raises(SparkRuntimeException, match="must be > 0"):
            weighted_sample_k(bad, "id", "w", 2).collect()


def test_union_with_evolution_promotion_lattice(spark):
    """The lossy corners the first widening table got wrong: bigint vs
    float promotes to DOUBLE (float would truncate longs above 2^24),
    decimal precisions merge as max-integral-digits + max-scale, and
    decimal vs double goes to double."""
    from decimal import Decimal

    from etl_sendas_spark.sources.readers import union_with_evolution

    big = 2**53  # exact in double, garbled in float
    a = spark.createDataFrame([(big,)], "x BIGINT")
    b = spark.createDataFrame([(1.5,)], "x FLOAT")
    out = union_with_evolution([a, b])
    assert out.schema["x"].dataType.simpleString() == "double"
    assert {r["x"] for r in out.collect()} == {float(big), 1.5}

    c = spark.createDataFrame([(Decimal("12345678.91"),)], "x DECIMAL(10,2)")
    d = spark.createDataFrame([(Decimal("123456789012"),)], "x DECIMAL(12,0)")
    out2 = union_with_evolution([c, d])
    assert out2.schema["x"].dataType.simpleString() == "decimal(14,2)"
    vals = {str(r["x"]) for r in out2.collect()}
    assert vals == {"12345678.91", "123456789012.00"}

    e = spark.createDataFrame([(Decimal("1.25"),)], "x DECIMAL(5,2)")
    f = spark.createDataFrame([(0.5,)], "x DOUBLE")
    out3 = union_with_evolution([e, f])
    assert out3.schema["x"].dataType.simpleString() == "double"

    g = spark.createDataFrame([(2**40,)], "x BIGINT")
    out4 = union_with_evolution([e, g])
    # bigint needs 20 integral digits; keep the decimal's scale 2
    assert out4.schema["x"].dataType.simpleString() == "decimal(22,2)"
    assert {str(r["x"]) for r in out4.collect()} == {
        "1.25",
        f"{2**40}.00",
    }


def test_new_ops_shuffle_budgets(spark):
    """Exchange-count pins for the session's operators: scd2 costs ONE
    hash exchange (all windows share the key; the (key, segment)
    aggregate formulation that cost a second corpus-sized exchange is
    retired), the funnel at most 3, BM25 at most 10. A refactor that
    silently adds a shuffle turns these red."""
    from conftest import SF_SMOKE

    from etl_sendas_spark.plans.inventory import EXTRA_QUERIES, QUERIES

    def hash_exchanges(name):
        fn = QUERIES.get(name) or EXTRA_QUERIES[name]
        plan = fn(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning")

    assert hash_exchanges("scd2_user_state_history") == 1
    assert hash_exchanges("a_funnel_steps") <= 3
    assert hash_exchanges("search_bm25_docs") <= 10


def test_pit_join_boundary_semantics(spark):
    """Point-in-time enrichment against an SCD2 history: a probe AT a
    version boundary sees the NEW version ([valid_from, valid_to)
    intervals), a probe before the first version gets NULL, and two
    state changes at one instant (an empty [T, T) interval) never
    match — the as-of window formulation and interval semantics agree
    exactly on these corners."""
    from etl_sendas_spark.operators.relational import asof_join, scd2_history

    rows = [
        # user 1: A at t=10, B at t=20, C+D both at t=30 (empty interval)
        (1, 10.0, 1, "A"),
        (1, 20.0, 2, "B"),
        (1, 30.0, 3, "C"),
        (1, 30.0, 4, "D"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id LONG, ts DOUBLE, event_id LONG, event_type STRING"
    ).select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    )
    hist = scd2_history(ev, "user_id", ["ts", "event_id"], "event_type")
    versions = hist.filter(
        F.col("valid_to").isNull() | (F.col("valid_to") != F.col("valid_from"))
    ).select("user_id", F.col("valid_from").alias("pts"), "state")
    probes = spark.createDataFrame(
        [(1, 1, 5.0), (2, 2, 10.0), (3, 3, 20.0), (4, 4, 25.0), (5, 5, 30.0)],
        "probe_id LONG, _k LONG, t DOUBLE",
    ).select(
        F.lit(1).alias("user_id"),
        "probe_id",
        F.col("t").cast("timestamp").alias("pts"),
    )
    out = asof_join(
        probes, versions, on=["user_id"], ts_col="pts",
        payload_cols=["state"], right_ts_alias="version_from",
    )
    got = {r["probe_id"]: r["right_state"] for r in out.collect()}
    # t=5 before history -> NULL; t=10 boundary -> A (new version);
    # t=20 boundary -> B; t=25 mid-interval -> B; t=30 -> D (the empty
    # C interval at t=30 is dropped, D wins deterministically)
    assert got == {1: None, 2: "A", 3: "B", 4: "B", 5: "D"}


def test_cooccurrence_pmi_hand_computed(spark):
    """PMI on a 4-doc corpus: tokens that always co-occur get
    ln(N·df_ab/(df_a·df_b)) = ln(4·2/(2·2)) = ln 2; independent-ish
    pairs score lower; pairs under min_pair_docs are absent; tok_a <
    tok_b ordering holds."""
    import math

    from etl_sendas_spark.operators.search import cooccurrence_pmi

    docs = [
        (1, "alpha beta"),
        (2, "alpha beta"),
        (3, "alpha gamma"),
        (4, "delta gamma"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = {
        (r["tok_a"], r["tok_b"]): (r["pair_docs"], r["pmi"])
        for r in cooccurrence_pmi(
            df, vocab_size=10, min_pair_docs=2
        ).collect()
    }
    # alpha df=3, beta df=2, gamma df=2, delta df=1
    assert got[("alpha", "beta")] == (2, round(math.log(4 * 2 / (3 * 2)), 6))
    # (alpha, gamma) co-occur once -> below min_pair_docs -> absent
    assert ("alpha", "gamma") not in got
    assert all(a < b for (a, b) in got)


def test_hybrid_rrf_fusion_semantics(spark):
    """RRF fusion on a hand-built corpus: a doc ranked top by BOTH
    retrievers beats single-list docs; a doc found by only one list
    still scores 1/(60+rank); self-match (query vector == its own doc
    vector) is kept."""
    from etl_sendas_spark.operators.search import hybrid_rrf_topk

    docs = spark.createDataFrame(
        [
            (1, "spark join algorithms"),   # keyword hit
            (2, "unrelated cooking text"),  # vector hit only
            (3, "spark join deep dive"),    # keyword hit
        ],
        "doc_id LONG, text STRING",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 0.0, 1.0]),
        ],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    # query 1: keyword "spark join", vector = doc 1's own vector
    out = hybrid_rrf_topk(
        docs, emb, [(1, "spark join", [1.0, 0.0, 0.0])], k=3, k_each=2, rrf_k=60
    ).collect()
    by_doc = {r["doc_id"]: (r["rrf"], r["rank"]) for r in out}
    # doc 1: bm25 rank 1 or 2 + vector rank 1 (self kept, cosine 1.0)
    # -> fused on both lists, must outrank everything
    assert by_doc[1][1] == 1
    # doc 2 vector-only, doc 3 keyword-only: both present, single-list scores
    assert set(by_doc) == {1, 2, 3}
    assert by_doc[1][0] > max(by_doc[2][0], by_doc[3][0])
    # single-list score is exactly 1/(60+rank) rounded to 6
    assert by_doc[2][0] in (round(1 / 61, 6), round(1 / 62, 6))


def test_hybrid_rrf_ivf_path_matches_exact_fusion(spark):
    """vec_path="ivf" (the production dense branch) must preserve the
    fusion semantics: the keyword branch is byte-identical, and the
    fused top-k per query overlaps the brute-path fusion heavily —
    the only permitted deviation is dense-branch recall, bounded here.
    Run on the real sf0.001 corpus so cluster geometry is non-trivial."""
    from collections import defaultdict

    from etl_sendas_spark.operators.search import hybrid_rrf_topk

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(sf + "/documents.parquet")
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    qids = [1, 2, 3, 4, 5]
    by_id = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(qids)).collect()
    }
    texts = {1: "spark hash join", 2: "table scan fast", 3: "window sort merge",
             4: "batch value row", 5: "key part line slow"}
    queries = [(q, texts[q], by_id[q]) for q in qids]

    kwargs = dict(k=10, k_each=20, rrf_k=60)
    exact = hybrid_rrf_topk(docs, emb, queries, vec_path="brute", **kwargs).collect()
    ivf = hybrid_rrf_topk(
        docs, emb, queries, vec_path="ivf",
        ivf_centroids=16, ivf_probe=8, ivf_lloyd_iters=2,
        vec_backend="numpy", **kwargs,
    ).collect()

    ex, ap = defaultdict(set), defaultdict(set)
    for r in exact:
        ex[r["query_id"]].add(r["doc_id"])
    for r in ivf:
        ap[r["query_id"]].add(r["doc_id"])
    assert set(ex) == set(ap) == set(qids)
    overlaps = [len(ex[q] & ap[q]) / len(ex[q]) for q in qids]
    # n_probe=8 of 16 scans ~half the corpus; fused overlap is higher
    # than raw dense recall because the keyword branch is exact
    assert sum(overlaps) / len(overlaps) >= 0.6, overlaps


def test_text_index_at_rest_build_once_query_many(spark, tmp_path):
    """At-rest inverted index (round 9): (1) the equality law — index
    top-k row-for-row equal to the inline bm25_topk on the same corpus
    for two query sets; (2) the prune law — a probe reads ONLY the
    partitions its terms' buckets name (inputFiles strict subset, with
    result parity against an unpruned read); (3) the append law —
    build(A)+append(B) ≡ build(A∪B), with cumulative stats riding the
    commit metadata and the append writing only B's postings."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.search import (
        _py_bucket,
        bm25_topk,
        text_index_append,
        text_index_build,
        text_index_topk,
    )
    from etl_sendas_spark.sources.txlog import TxLogTable

    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    a = docs.filter(F.col("doc_id") % 3 != 0)
    b_side = docs.filter(F.col("doc_id") % 3 == 0)

    q1 = [(1, "spark hash join"), (2, "table scan fast")]
    q2 = [(7, "window sort merge"), (8, "batch value row")]

    root = str(tmp_path / "fullidx")
    text_index_build(docs, root, buckets=16)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for qs in (q1, q2):
        assert rows(text_index_topk(spark, root, qs)) == rows(
            bm25_topk(docs, qs)
        )

    # prune law: the probe's scan names only the hit buckets' files
    t = TxLogTable(root)
    hit = {_py_bucket(tok, 16) for tok in
           ("spark", "hash", "join")}
    pruned_files = set(
        t.read(spark, prune={"bucket": sorted(hit)}).inputFiles()
    )
    all_files = set(t.read(spark).inputFiles())
    assert pruned_files < all_files
    for f in pruned_files:
        assert any(f"bucket={bk}/" in f for bk in hit)

    # append law: build(A)+append(B) == build(A∪B) on results AND stats
    inc_root = str(tmp_path / "incidx")
    text_index_build(a, inc_root, buckets=16)
    v = text_index_append(b_side, inc_root)
    assert v == 1
    for qs in (q1, q2):
        assert rows(text_index_topk(spark, inc_root, qs)) == rows(
            text_index_topk(spark, root, qs)
        )
    ti = TxLogTable(inc_root)
    meta_full = TxLogTable(root).commit_meta(0)
    meta_inc = ti.commit_meta(ti.latest_version())
    assert int(meta_inc["idx_n_docs"]) == int(meta_full["idx_n_docs"])
    assert int(meta_inc["idx_sum_dl"]) == int(meta_full["idx_sum_dl"])
    # the append's commit holds only B's postings (no corpus rescan)
    import os

    added = [os.path.join(inc_root, f) for f in ti._read_commit(v)["add"]]
    appended = spark.read.parquet(*added)
    assert appended.filter(F.col("doc_id") % 3 != 0).count() == 0
    assert appended.count() > 0


def test_text_index_refresh_tracks_corpus_dml(spark, tmp_path):
    """CDF-driven index maintenance (round 10): deletes, updates, and
    appends on the indexed corpus TABLE flow into the at-rest index as
    ONE atomic replace_where per refresh — after which the probe is
    row-for-row a fresh build of the corpus head, cumulative stats
    equal the fresh build's, and the watermark advanced in the same
    commit. A second refresh with nothing new is a no-op (None)."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.search import (
        text_index_build,
        text_index_refresh,
        text_index_topk,
    )
    from etl_sendas_spark.sources.txlog import TxLogTable

    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .limit(300)
    )
    corpus_root = str(tmp_path / "corpus")
    corpus = TxLogTable.create(corpus_root, docs)

    root = str(tmp_path / "idx")
    text_index_build(
        corpus.read(spark), root, buckets=16, src_version=0
    )

    # refresh before any corpus commit: already synced
    assert text_index_refresh(spark, root, corpus_root) is None

    # DML ladder: delete a slice, rewrite one doc, append new docs
    corpus.delete_where(spark, "doc_id % 7 = 0")
    corpus.update_where(
        spark,
        {"text": "'replacement text about spark hash join tables'"},
        "doc_id % 7 = 1",
    )
    corpus.append(
        spark.createDataFrame(
            [
                (900001, "fresh spark document about hash tables"),
                (900002, "another fresh document about sort merge"),
            ],
            "doc_id LONG, text STRING",
        ),
        spark,
    )

    v = text_index_refresh(spark, root, corpus_root)
    assert v is not None
    t = TxLogTable(root)
    rec = t._read_commit(v)
    assert rec["op"] == "replace_where"

    # equality law: refreshed index == fresh build of the corpus head
    fresh_root = str(tmp_path / "fresh")
    text_index_build(corpus.read(spark), fresh_root, buckets=16)
    qs = [(1, "spark hash join"), (2, "sort merge document")]
    got = sorted(map(tuple, text_index_topk(spark, root, qs).collect()))
    want = sorted(
        map(tuple, text_index_topk(spark, fresh_root, qs).collect())
    )
    assert got == want and len(got) > 0

    meta = t.commit_meta(v)
    fresh_meta = TxLogTable(fresh_root).commit_meta(0)
    assert int(meta["idx_n_docs"]) == int(fresh_meta["idx_n_docs"])
    assert int(meta["idx_sum_dl"]) == int(fresh_meta["idx_sum_dl"])
    assert int(meta["idx_src_version"]) == corpus.latest_version()

    # synced again: no-op
    assert text_index_refresh(spark, root, corpus_root) is None

    # an index without the watermark refuses to guess
    import pytest as _pytest

    nowm = str(tmp_path / "nowm")
    text_index_build(corpus.read(spark), nowm, buckets=16)
    with _pytest.raises(ValueError, match="idx_src_version"):
        text_index_refresh(spark, nowm, corpus_root)


def test_text_index_refresh_auto_chunks_through_crash(
    spark, tmp_path, monkeypatch
):
    """Round-11: a DML wave touching 3x max_touched_ids auto-chunks
    into bounded replace_where commits instead of raising. A crash
    after the first chunk leaves the watermark un-advanced and an
    idx_wave cursor behind; the re-run skips the committed slice and
    converges to EXACTLY the fresh-build state (probe, stats,
    watermark)."""
    import pytest

    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.search import (
        text_index_build,
        text_index_refresh,
        text_index_topk,
    )
    from etl_sendas_spark.sources.txlog import TxLogTable

    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .limit(300)
    )
    corpus_root = str(tmp_path / "corpus")
    corpus = TxLogTable.create(corpus_root, docs)
    root = str(tmp_path / "idx")
    text_index_build(corpus.read(spark), root, buckets=16, src_version=0)

    # one wave touching ~3x the cap: update a third, delete a slice,
    # append two fresh docs
    corpus.update_where(
        spark,
        {"text": "concat(text, ' chunked wave marker')"},
        "doc_id % 3 = 0",
    )
    corpus.delete_where(spark, "doc_id % 15 = 1")
    corpus.append(
        spark.createDataFrame(
            [
                (910001, "fresh spark document about hash tables"),
                (910002, "another fresh document about sort merge"),
            ],
            "doc_id LONG, text STRING",
        ),
        spark,
    )
    t = TxLogTable(root)
    pre_meta = t.commit_meta(t.latest_version())
    cap = 40  # touched ids ~ 100+20+2 >> 2 chunks at 40

    # crash after the FIRST chunk commit
    orig = TxLogTable.replace_where
    calls = []

    def crashing(self, *a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("simulated mid-wave crash")
        return orig(self, *a, **k)

    monkeypatch.setattr(TxLogTable, "replace_where", crashing)
    with pytest.raises(RuntimeError, match="mid-wave"):
        text_index_refresh(
            spark, root, corpus_root, max_touched_ids=cap, rebuild_fraction=2.0
        )
    monkeypatch.setattr(TxLogTable, "replace_where", orig)

    # mid-wave state: watermark NOT advanced, cursor present, stats
    # still the pre-wave values
    mid = t.commit_meta(t.latest_version())
    assert int(mid["idx_src_version"]) == int(pre_meta["idx_src_version"])
    assert mid["idx_wave"]["to"] == corpus.latest_version()
    assert int(mid["idx_n_docs"]) == int(pre_meta["idx_n_docs"])

    # re-run: resumes AFTER the committed slice. Prove the skip by
    # counting commits: the wave has ceil(touched/cap) chunks, one
    # already landed, so the resume lands exactly chunks-1.
    n_touched = (
        docs.filter("doc_id % 3 = 0 OR doc_id % 15 = 1").count() + 2
    )
    expected_chunks = -(-n_touched // cap)
    assert expected_chunks >= 3  # the wave really is >= 3x the cap
    n_before = t.latest_version()
    v = text_index_refresh(spark, root, corpus_root, max_touched_ids=cap, rebuild_fraction=2.0)
    assert v is not None and v == t.latest_version()
    assert v - n_before == expected_chunks - 1
    meta = t.commit_meta(v)
    assert "idx_wave" not in meta
    assert int(meta["idx_src_version"]) == corpus.latest_version()

    # equality law: refreshed == fresh build of the corpus head
    fresh_root = str(tmp_path / "fresh")
    text_index_build(corpus.read(spark), fresh_root, buckets=16)
    qs = [(1, "spark hash join"), (2, "chunked wave marker")]
    got = sorted(map(tuple, text_index_topk(spark, root, qs).collect()))
    want = sorted(
        map(tuple, text_index_topk(spark, fresh_root, qs).collect())
    )
    assert got == want and len(got) > 0
    fresh_meta = TxLogTable(fresh_root).commit_meta(0)
    assert int(meta["idx_n_docs"]) == int(fresh_meta["idx_n_docs"])
    assert int(meta["idx_sum_dl"]) == int(fresh_meta["idx_sum_dl"])

    # a fully-synced table no-ops even with a tiny cap
    assert (
        text_index_refresh(spark, root, corpus_root, max_touched_ids=5, rebuild_fraction=2.0)
        is None
    )


def test_text_index_refresh_rebuild_fallback(spark, tmp_path):
    """Round-11 rebuild fallback: a wave that exceeds the per-commit
    id cap AND touches >= rebuild_fraction of the corpus lands as ONE
    overwrite re-derived from the corpus head (measured at x100: the
    chunked path paid a near-full CoW rewrite PER CHUNK on spread-out
    ids — 209 s vs 42.8 s for the rebuild). End state must equal the
    fresh build exactly: probe rows, stats, watermark; a second
    refresh is a no-op."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.search import (
        text_index_build,
        text_index_refresh,
        text_index_topk,
    )
    from etl_sendas_spark.sources.txlog import TxLogTable

    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
        .limit(200)
    )
    corpus_root = str(tmp_path / "corpus")
    corpus = TxLogTable.create(corpus_root, docs)
    root = str(tmp_path / "idx")
    text_index_build(corpus.read(spark), root, buckets=16, src_version=0)

    corpus.update_where(
        spark,
        {"text": "concat(text, ' rebuild wave marker')"},
        "doc_id % 3 = 0",
    )
    corpus.delete_where(spark, "doc_id % 15 = 1")

    t = TxLogTable(root)
    before = t.latest_version()
    # wave ~70 ids > cap 10 and > 5% of 200 docs -> rebuild path
    v = text_index_refresh(spark, root, corpus_root, max_touched_ids=10)
    assert v == before + 1  # ONE commit, not ceil(70/10) chunks
    meta = t.commit_meta(v)
    assert meta["op"] == "overwrite" and meta.get("idx_rebuild") is True
    assert int(meta["idx_src_version"]) == corpus.latest_version()

    fresh_root = str(tmp_path / "fresh")
    text_index_build(corpus.read(spark), fresh_root, buckets=16)
    qs = [(1, "spark hash join"), (2, "rebuild wave marker")]
    got = sorted(map(tuple, text_index_topk(spark, root, qs).collect()))
    want = sorted(
        map(tuple, text_index_topk(spark, fresh_root, qs).collect())
    )
    assert got == want and len(got) > 0
    fresh_meta = TxLogTable(fresh_root).commit_meta(0)
    assert int(meta["idx_n_docs"]) == int(fresh_meta["idx_n_docs"])
    assert int(meta["idx_sum_dl"]) == int(fresh_meta["idx_sum_dl"])

    assert text_index_refresh(spark, root, corpus_root) is None
