"""Physical-plan assertions: the scale properties SURVEY.md §4 claims
(pushdown, pruning, broadcast dims, bounded shuffle counts, top-k
without a global sort) must hold in the compiled plans, not just in
docstrings. These tests fail if a refactor silently de-optimizes a
query shape."""

from __future__ import annotations

import re

from conftest import SF_ORACLE
from etl_sendas_spark.plans.inventory import (
    d1_keep_first,
    j_asof_events,
    j_broadcast_enrich,
    o_global_topk,
    p_filter_project,
    q1_pricing_summary,
)


def _plan(df) -> str:
    """Full formatted physical plan (toString() truncates long lines)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _shuffles(plan: str) -> int:
    return len(re.findall(r"Arguments: (?:hash|range)partitioning", plan))


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = _plan(q1_pricing_summary(spark, SF_ORACLE))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    m = re.search(r"ReadSchema: struct<([^>\n]*)>", plan)
    assert m, plan
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert sorted(cols) == [
        "l_discount", "l_extendedprice", "l_linestatus",
        "l_quantity", "l_returnflag", "l_shipdate",
    ], cols


def test_filter_project_needs_no_shuffle(spark):
    plan = _plan(p_filter_project(spark, SF_ORACLE))
    assert _shuffles(plan) == 0, plan
    assert "StringContains(p_name,r)" in plan  # contains() reached the scan


def test_broadcast_enrich_never_shuffles_the_fact_for_joins(spark):
    plan = _plan(j_broadcast_enrich(spark, SF_ORACLE))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3, plan
    assert "SortMergeJoin" not in plan
    # only the fact-widening round-robin + the final groupBy shuffle
    assert _shuffles(plan) == 1, plan


def test_global_topk_avoids_global_sort(spark):
    plan = _plan(o_global_topk(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan, plan
    assert _shuffles(plan) == 0, plan


def test_keep_first_is_single_shuffle(spark):
    plan = _plan(d1_keep_first(spark, SF_ORACLE))
    assert _shuffles(plan) == 1, plan


def test_range_join_is_hash_not_nested_loop(spark):
    """The bucketed range join must compile to a hash-equi join on the
    bucket — never the quadratic BroadcastNestedLoopJoin a raw
    inequality predicate produces."""
    from etl_sendas_spark.plans.inventory import j_range_bucketed

    plan = _plan(j_range_bucketed(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_asof_join_is_single_shuffle(spark):
    """The union+last-carry as-of join must cost exactly one hash
    shuffle (the per-key window) — no range-join explosion, no
    broadcast of an unbounded side."""
    plan = _plan(j_asof_events(spark, SF_ORACLE))
    assert _shuffles(plan) == 1, plan


def test_q3_broadcasts_segment_and_pushes_dates(spark):
    """Q3: the filtered customer segment must broadcast (never a
    shuffle of the fact for the dim join) and both date filters must
    reach their parquet scans."""
    from etl_sendas_spark.plans.inventory import q3_shipping_priority

    plan = _plan(q3_shipping_priority(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan, plan
    assert "GreaterThan(l_shipdate" in plan, plan
    assert "LessThan(o_orderdate" in plan, plan
    # shuffles: fact-widening + li⋈orders join (2 sides) + groupBy; the
    # top-10 must compile to TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_merge_upsert_is_one_join_no_extra_shuffles(spark):
    """The CDC merge must stay ONE join of base vs net changes — a
    naive delete-then-update-then-insert would rescan/reshuffle the
    base three times."""
    from etl_sendas_spark.plans.inventory import j_merge_upsert

    plan = _plan(j_merge_upsert(spark, SF_ORACLE))
    n_joins = len(re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan))
    assert n_joins == 1, plan


def test_grouping_sets_is_single_shuffle(spark):
    """Four granularities must cost one expand + one shuffle, not four
    separate aggregation jobs."""
    from etl_sendas_spark.plans.inventory import a_grouping_sets_events

    plan = _plan(a_grouping_sets_events(spark, SF_ORACLE))
    assert "Expand" in plan, plan
    assert _shuffles(plan) == 1, plan


def test_training_manifest_shuffles_text_exactly_once(spark):
    """The composed corpus pipeline may shuffle full text ONLY for the
    dedup window; the quality gate, redaction, sampling, and chunking
    are scan-local, and the final agg shuffles only the manifest rows.
    Budget: widen + dedup window + agg (partial agg under the explode
    keeps the exploded rows node-local)."""
    from etl_sendas_spark.plans.inventory import corpus_training_manifest

    plan = _plan(corpus_training_manifest(spark, SF_ORACLE))
    assert _shuffles(plan) <= 3, plan


def test_chunking_and_sampling_stay_scan_local(spark):
    """Sequence chunking and stratified sampling are pure per-row
    transforms: no exchange anywhere in either plan."""
    from etl_sendas_spark.plans.inventory import (
        chunk_documents,
        sample_stratified_docs,
    )

    assert _shuffles(_plan(chunk_documents(spark, SF_ORACLE))) == 0
    assert _shuffles(_plan(sample_stratified_docs(spark, SF_ORACLE))) == 0


def test_window_frames_share_one_exchange(spark):
    """The merged ROWS + RANGE query claims both window specs reuse ONE
    hash exchange on user_id (they differ only in ordering/frame) — the
    merge must not double the shuffle cost of either half."""
    from etl_sendas_spark.plans.inventory import w_window_frames

    plan = _plan(w_window_frames(spark, SF_ORACLE))
    # exactly one exchange beyond the (optional) scan-widening round-robin
    hash_parts = len(re.findall(r"Arguments: hashpartitioning\(user_id", plan))
    assert hash_parts == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan


def test_update_then_merge_shuffles_one_join_only(spark):
    """The chained maintenance query: exactly ONE shuffle join (the CDC
    full-outer merge); every copy of the row-id update join — the
    updated base is re-derived per change branch, and AQE dedupes the
    identical broadcast at runtime — must stay broadcast, never a
    second shuffle join."""
    from etl_sendas_spark.plans.inventory import j9_update_then_merge

    plan = _plan(j9_update_then_merge(spark, SF_ORACLE))
    smj = re.findall(r"\(\d+\) SortMergeJoin", plan)
    shj = re.findall(r"\(\d+\) ShuffledHashJoin", plan)
    bhj = re.findall(r"\(\d+\) BroadcastHashJoin", plan)
    assert len(smj) + len(shj) == 1, plan
    assert len(bhj) >= 1, plan


def test_flagship_reads_fact_from_stage_table_not_rescans(spark):
    """``run_pipeline`` takes ONE pin, of the enriched frame, and every
    consumer above it (6 mark sets, the main pass, comprobar) must read
    that stage table: the executed plan holds no source parquet scan
    (fact or ``bases``) and no dim ``LocalTableScan``, only scans of the
    pinned RDD. A source scan or a dim scan reappearing here means some
    consumer silently re-derives the fact or re-runs the enrichment."""
    from etl_sendas_spark.plans.inventory import sendas_full_pipeline

    out = sendas_full_pipeline(spark, SF_ORACLE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ".parquet" not in plan, plan[:2000]
    assert "LocalTableScan" not in plan, plan[:2000]
    assert "Scan ExistingRDD" in plan, plan[:2000]


def test_local_relation_keeps_types_nulls_and_plans_locally(spark):
    """readers.local_relation hands driver rows to the JVM as a
    LocalTableScan (no Python RDD), with the declared schema as is:
    types, nullability and NULL cells survive, empty inputs too."""
    import datetime as dt

    from pyspark.sql import types as T

    from etl_sendas_spark.sources.readers import local_relation

    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType(), False),
            T.StructField("d", T.DoubleType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("dt", T.DateType()),
        ]
    )
    rows = [
        ("a", 1, 1 << 40, 0.5, True, dt.date(2024, 9, 1)),
        (None, None, 2, None, None, None),
    ]
    df = local_relation(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    empty = local_relation(spark, [], schema)
    assert empty.schema == schema and empty.count() == 0


def test_enrich_dims_scan_locally_not_through_python(spark):
    """The driver-built dims of ``sendas_inputs`` (and the Excel dims'
    ``dim_frame_to_spark`` path) plan as LocalTableScans: enrich's plan
    must contain no ``Scan ExistingRDD``, whose every execution would
    start a Python-worker job per dim scan."""
    import pandas as pd

    from etl_sendas_spark.plans.capital_sendas import enrich
    from etl_sendas_spark.plans.sendas_driver_query import sendas_inputs
    from etl_sendas_spark.sources.readers import dim_frame_to_spark

    fact, codigos, tipologia, anexos, bases = sendas_inputs(spark, SF_ORACLE)
    plan = _plan(enrich(fact, codigos, tipologia, anexos, bases))
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan

    dim = dim_frame_to_spark(spark, pd.DataFrame({"CUPS": ["1", None]}))
    assert "ExistingRDD" not in _plan(dim)


def test_minhash_signatures_are_fully_narrow(spark):
    """Signature computation must involve NO exchange: each signature
    element is a per-row array expression over the shingle array — the
    plan property that makes minhash linear in the scan at 100 TB."""
    from etl_sendas_spark.operators.dedupe import minhash_signatures

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(minhash_signatures(docs, "doc_id", "text"))
    assert _shuffles(plan) == 0, plan


def test_minhash_lsh_shuffle_budget(spark):
    """The full LSH candidate plan (signatures → band buckets → bucket
    join → exact-Jaccard verify) gets a hard shuffle budget: the bucket
    join (≤2 sides, one reused at runtime) plus the two verify joins
    back to the shingle table (broadcast at small SF), the bucket-size
    partial aggregation (r12: one row per DISTINCT bucket on the wire
    — replaces the window count that sorted the whole bucket table),
    and the oversized-bucket chain path's single explicit exchange
    (carries only rows of buckets above the cap — normally zero). A
    refactor that explodes signatures into a shuffle, or re-shingles
    per consumer with an exchange each, busts the budget. Built with
    materialize=False so the asserted plan is the real end-to-end
    lineage, not a checkpoint scan."""
    from etl_sendas_spark.operators.dedupe import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    plan = _plan(minhash_lsh_candidates(docs, "doc_id", "text", materialize=False))
    assert _shuffles(plan) <= 5, plan


def test_flagship_exchange_budget(spark):
    """Hard exchange budget for the flagship's EXECUTED plan (above the
    single enriched-stage pin): 11 measured at sf0.001 and sf0.01 on
    local[8] with 4 shuffle partitions — R1 1, R2 2, R3 1, the R4
    null-safe semi join 2, R7 2 (INGRESO dedup, fold repartition), R8
    1, and the two row-id exchanges of the mark aggregation and the
    fact side of the mark join. Was 52, a stale budget. A refactor that
    silently adds a shuffle per consumer, or lets a distinct reappear
    below the R4 semi join, must turn this red; raise the budget only
    with a measured reason."""
    from etl_sendas_spark.plans.inventory import sendas_full_pipeline

    out = sendas_full_pipeline(spark, SF_ORACLE)
    pe = out._jdf.queryExecution().executedPlan().toString()
    n = len(re.findall(r"Exchange (?:hash|range)partitioning", pe))
    assert n <= 11, f"flagship executed-plan exchanges grew to {n} (budget 11)"


def test_keep_first_compiles_to_map_side_group_limit(spark):
    """The scale property behind skew-immune keep-first: Spark >=3.5
    compiles row_number()<=1 into WindowGroupLimit, with a PARTIAL pass
    before the exchange — top-1-per-key happens map-side, so a hot key
    (even 50% of all rows; BASELINE.md skew section) cannot funnel into
    one reduce task. A refactor of keep_first that breaks this pattern
    (e.g. ranking on a non-prefix expression) loses the pushdown and
    reintroduces the straggler."""
    plan = _plan(d1_keep_first(spark, SF_ORACLE))
    assert plan.count("WindowGroupLimit") >= 2, plan  # partial + final


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """Runtime-filter injection: a shuffle join whose build side carries
    a selective filter must push a bloom filter into the probe-side scan
    (Catalyst's InjectRuntimeFilter). At 100 TB this is the difference
    between shuffling the whole fact and shuffling only rows whose key
    can possibly match — the engine gets it for free as long as nothing
    disables the rule, which is exactly what this test pins."""
    from pyspark.sql import functions as F

    to_restore = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # local testdata is far below the 10GB production threshold
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # force the shuffle-join shape (broadcast joins don't need it)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in to_restore}
    try:
        for k, v in to_restore.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").filter(
            "o_orderpriority = '1-URGENT'"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("q"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan or "might_contain" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_mixture_sample_broadcasts_rates_no_extra_shuffle(spark):
    """stratified_sample_rates must broadcast the stratum-sized rate
    table back onto the corpus — the corpus side of the join may not
    shuffle (at 100 TB the re-balancing pass is scan + broadcast probe,
    nothing else)."""
    from etl_sendas_spark.plans.inventory import sample_temperature_mixture

    plan = _plan(sample_temperature_mixture(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the documents-side probe of the rates join must not be preceded by
    # an exchange on the corpus: every hashpartitioning in this plan
    # belongs to the tiny per-stratum aggregates, none to full documents
    assert "SortMergeJoin" not in plan


def test_q5_join_tree_broadcasts_dims_and_pushes_dates(spark):
    """Six-table join tree (TPC-H Q5 shape): every dimension join must
    compile to a broadcast (the only shuffle-worthy join is fact-fact),
    the date range must reach the orders parquet scan, and the whole
    tree plus aggregate may cost at most 3 exchanges (fact join x2 at
    larger SFs + final agg; small SFs broadcast the lot and use 1)."""
    from etl_sendas_spark.plans.inventory import q5_local_supplier_revenue

    plan = _plan(q5_local_supplier_revenue(spark, SF_ORACLE))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert _shuffles(plan) <= 3, _shuffles(plan)
    pushed = [seg for seg in plan.split("PushedFilters: ")[1:] if "o_orderdate" in seg.split("]")[0]]
    assert pushed, "o_orderdate range must push into the orders scan"


def test_q17_decorrelates_to_single_fact_pass(spark):
    """The correlated-subquery shape must decorrelate to ONE pass over
    the fact: one lineitem scan (no self-join re-read), the part filter
    broadcast, and at most 2 exchanges (partkey window + final agg)."""
    from etl_sendas_spark.plans.inventory import q17_small_quantity_revenue

    plan = _plan(q17_small_quantity_revenue(spark, SF_ORACLE))
    # detail-section markers "(n) Scan parquet" count each scan once
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, (
        "exactly lineitem + part scans"
    )
    assert "BroadcastHashJoin" in plan
    assert _shuffles(plan) <= 2, _shuffles(plan)


def test_tpch_suite_join_strategies(spark):
    """The full TPC-H completion (plans/tpch.py): no query may plan a
    CartesianProduct; Q19's OR-of-ANDs must stay a HASH join (the equi
    key lives outside the disjunction — a nested-loop here is the
    classic Q19 trap); the only BroadcastNestedLoopJoins allowed are
    the 1-row scalar cross joins in Q11/Q22."""
    from etl_sendas_spark.plans.tpch import TPCH_QUERIES

    for name, fn in TPCH_QUERIES.items():
        plan = _plan(fn(spark, SF_ORACLE))
        assert "CartesianProduct" not in plan, name
        # count plan NODES (the formatted dump repeats each node in the
        # details section as "(n) BroadcastNestedLoopJoin")
        n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
        allowed = 1 if name in ("q11_important_value", "q22_inactive_customers") else 0
        assert n_bnlj <= allowed, f"{name}: {n_bnlj} nested-loop joins"

    q19 = _plan(TPCH_QUERIES["q19_disjunctive_revenue"](spark, SF_ORACLE))
    assert "BroadcastHashJoin" in q19 or "SortMergeJoin" in q19


def test_tpch_bucketed_layout_removes_fact_exchanges(spark):
    """With lineitem/orders stored bucketed+sorted by orderkey
    (plans.tpch.build_bucketed_warehouse), the orderkey-keyed family's
    plans must contain NO exchange on either orderkey — the fact⨝orders
    joins, per-order aggregates, and per-order windows all ride the
    at-rest partitioning — and results must match the plain-parquet
    path bit-for-bit."""
    import hashlib

    from etl_sendas_spark.plans import tpch

    family = (
        "q4_priority_exists",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q12_late_shipping_priority",
        "q18_large_volume_customers",
        "q21_waiting_supplier",
    )

    def h(df):
        p = df.toPandas()
        p = p[sorted(p.columns)].astype(str)
        p = p.sort_values(list(p.columns)).reset_index(drop=True)
        return hashlib.md5(p.to_csv(index=False).encode()).hexdigest()

    plain = {q: h(tpch.TPCH_QUERIES[q](spark, SF_ORACLE)) for q in family}
    tpch.build_bucketed_warehouse(spark, SF_ORACLE, buckets=4)
    try:
        for q in family:
            df = tpch.TPCH_QUERIES[q](spark, SF_ORACLE)
            plan = _plan(df)
            assert "hashpartitioning(l_orderkey" not in plan, q
            assert "hashpartitioning(o_orderkey" not in plan, q
            assert h(df) == plain[q], q
        # q21's round-6 claim: the per-order window STREAMS off the
        # co-located SMJ's orderkey-sorted output — no Sort (and no
        # pair-level aggregate) between Window and join
        q21_plan = _plan(tpch.TPCH_QUERIES["q21_waiting_supplier"](spark, SF_ORACLE))
        i = q21_plan.index("Window (")
        j = q21_plan.index("SortMergeJoin", i)
        between = q21_plan[i:j]
        assert "Sort (" not in between and "Exchange" not in between, between
    finally:
        tpch.drop_bucketed_warehouse(SF_ORACLE)


def test_minhash_incremental_corpus_side_never_shuffles(spark):
    """The wave-probe contract: every join in the incremental plan is
    a BroadcastHashJoin with the wave-derived side as the build —
    the corpus-sized index (buckets, shingle postings) is only ever a
    streamed scan, and no SortMergeJoin (which would exchange the
    index) appears anywhere."""
    from etl_sendas_spark.operators.dedupe import (
        minhash_lsh_incremental,
        minhash_lsh_index,
    )
    from etl_sendas_spark.sources.readers import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, SF_ORACLE, "documents")
    index = minhash_lsh_index(docs.filter(F.col("doc_id") % 3 != 2))
    pairs = minhash_lsh_incremental(
        index,
        minhash_lsh_index(docs.filter(F.col("doc_id") % 3 == 2)),
        materialize=False,
    )
    plan = _plan(pairs)
    assert "SortMergeJoin" not in plan
    # probe (index x wave), wave self-join, and both verification joins
    assert plan.count("BroadcastHashJoin") >= 4


def test_join_ivm_delta_broadcasts_feeds_even_without_auto(spark):
    """The join-IVM delta's feed-derived frames are EXPLICITLY
    broadcast (BASELINE r9: without the hint a conservative session
    sort-merges the feed-key semi joins, shuffling the whole base and
    inverting the feed-sized cost claim). Pinned by compiling the plan
    with autoBroadcastJoinThreshold=-1: every join must still be a
    broadcast variant — no SortMergeJoin anywhere in the delta."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.ivm import join_view_delta

    a_new = spark.range(10000).selectExpr(
        "id % 500 AS j", "CAST(id % 3 AS STRING) AS a"
    )
    b_new = spark.range(500).selectExpr(
        "id AS j", "CAST(id % 7 AS STRING) AS b"
    )
    ach = spark.range(20).selectExpr(
        "id % 500 AS j", "CAST(id % 3 AS STRING) AS a", "'I' AS op"
    )
    bch = spark.range(5).selectExpr(
        "id AS j", "CAST(id % 7 AS STRING) AS b", "'D' AS op"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(
            join_view_delta(ach, bch, a_new, b_new, ["j"], ["a"], ["b"])
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_text_index_probe_stays_query_bounded(spark, tmp_path):
    """The at-rest index probe compiles to a query-bounded plan: the
    postings scan carries the pushed token-IN filter, every join
    against query-derived frames broadcasts, and the only shuffles are
    the df aggregate and the per-query score/top-k — a budget that
    does not grow with the index."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.search import (
        text_index_build,
        text_index_topk,
    )

    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    root = str(tmp_path / "idx")
    text_index_build(docs, root, buckets=8)
    plan = _plan(
        text_index_topk(spark, root, [(1, "spark join"), (2, "fast scan")])
    )
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "In(token" in plan or "token IN" in plan, plan  # pushed filter
    # qterms distinct + df agg + score agg + top-k window — each
    # bounded by query vocab/candidates, none index-sized
    assert _shuffles(plan) <= 4, plan


def test_lsq_training_moments_are_one_scan_no_shuffle(spark):
    """The classifier's whole training aggregate (XᵀX + Xᵀy moments)
    compiles to ONE scan with a partial/final hash aggregate and no
    hash-partitioning exchange at all (global aggregate → single
    exchange to one partition, not a keyed shuffle) — training cost is
    literally one pass over the features."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.operators.classify import (
        quality_feature_exprs,
        weak_quality_label,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    fx = quality_feature_exprs("text")
    feats = docs.select(
        *[e.alias(k) for k, e in fx.items()]
    ).withColumn("y", weak_quality_label({k: F.col(k) for k in fx}))
    cols = ["bias", "n_tokens", "n_stop"]
    aggs = [
        F.sum(F.col(a).cast("long") * F.col(b).cast("long")).alias(f"m{a}{b}")
        for i, a in enumerate(cols)
        for b in cols[i:]
    ] + [F.sum(F.col(c).cast("long") * F.col("y")).alias(f"v{c}") for c in cols]
    plan = _plan(feats.select(*aggs))
    assert _shuffles(plan) == 0, plan  # only SinglePartition exchange
    assert "HashAggregate" in plan
