"""Exact quantiles by histogram refinement: selection without a global sort.

``percentile``-style aggregates sort the whole column (or hold it as
per-group state). These operators instead narrow the value domain with
``buckets``-way histograms — one bounded scan per pass — until the
target order statistic's bucket is small enough to resolve with a
bounded sort. Semantics match DuckDB's ``quantile_disc``: the 1-based
order statistic k = max(1, ceil(q·n)), NULLs excluded, so the results
are oracle-hashed exactly (``a_exact_quantile_histogram``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def exact_quantile_histogram(
    df: DataFrame,
    col: str,
    q: float,
    buckets: int = 8192,
    collect_threshold: int = 100_000,
    max_passes: int = 12,
):
    """EXACT q-quantile of a numeric column without ever sorting the
    data: iterative histogram refinement (the distributed selection
    algorithm — BLAST/TDigest pipelines call it "binary search the
    value domain").

    Each pass is one scan restricted to the current value interval: a
    ``buckets``-way histogram (map-side combinable groupBy over a
    computed bucket index, ≤ ``buckets`` rows collected), then the
    bucket containing the target order statistic becomes the next
    interval. The candidate count shrinks ~``buckets``× per pass, so a
    trillion rows need 3 passes before the remainder fits
    ``collect_threshold`` and resolves with a bounded sort — versus
    ``percentile``'s sort-based aggregate whose per-group state is the
    whole dataset. Semantics match DuckDB's ``quantile_disc``: the
    1-based order statistic k = max(1, ceil(q·n)), NULLs excluded.

    Ties/degenerate mass: when the interval collapses (lo == hi) every
    remaining value is identical and that value is the answer, however
    many rows share it. Returns None on an empty/all-NULL column.

    Interval membership is the bucket predicate ITSELF (the recomputed
    floor index == b), never arithmetic edges ``lo + b*width``: at
    bucket boundaries FP rounding can put a value on opposite sides of
    the floor index and the recomputed edge, silently dropping or
    double-counting a boundary row. Each pass re-aggregates the actual
    min/max of the surviving set, so the next histogram is bucketed on
    exact bounds.
    """
    import math

    if not 0.0 <= q <= 1.0:
        raise ValueError(f"exact_quantile_histogram: q must be in [0,1], got {q}")
    vals = df.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    pred = F.lit(True)  # conjunction of chosen bucket predicates
    first = vals.agg(F.count("*").alias("n")).collect()[0]
    n = int(first["n"])
    if n == 0:
        return None
    k = max(1, math.ceil(q * n))  # global 1-based order statistic
    before = 0  # rows strictly below the current interval

    for _ in range(max_passes):
        in_range = vals.filter(pred)
        stats = in_range.agg(
            F.count("*").alias("c"), F.min("v").alias("lo"), F.max("v").alias("hi")
        ).collect()[0]
        cnt, lo, hi = int(stats["c"]), float(stats["lo"]), float(stats["hi"])
        if lo == hi:
            return lo
        remaining = k - before
        if cnt <= collect_threshold:
            row = (
                in_range.orderBy("v").limit(remaining).agg(F.max("v")).collect()
            )
            return float(row[0][0])
        width = (hi - lo) / buckets
        if width <= 0.0:
            # subnormal interval: (hi-lo)/buckets underflowed although
            # lo < hi — the domain can't split further, bounded sort
            row = (
                in_range.orderBy("v").limit(remaining).agg(F.max("v")).collect()
            )
            return float(row[0][0])
        idx = F.greatest(
            F.lit(0),
            F.least(
                F.lit(buckets - 1),
                F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("long"),
            ),
        )
        hist = dict(
            (int(r["b"]), int(r["c"]))
            for r in in_range.groupBy(idx.alias("b"))
            .agg(F.count("*").alias("c"))
            .collect()
        )
        acc = 0
        for b in range(buckets):
            c = hist.get(b, 0)
            if acc + c >= remaining:
                before += acc
                pred = pred & (idx == b)
                break
            acc += c
    # max_passes exhausted (pathological FP distribution): bounded sort
    row = (
        vals.filter(pred)
        .orderBy("v")
        .limit(k - before)
        .agg(F.max("v"))
        .collect()
    )
    return float(row[0][0])


def exact_quantiles_histogram(
    df: DataFrame,
    col: str,
    qs: list[float],
    buckets: int = 8192,
    collect_threshold: int = 100_000,
    max_passes: int = 12,
) -> list[tuple[float, float | None]]:
    """Batch form of :func:`exact_quantile_histogram`: ALL quantiles
    share the global count/min/max aggregate and the first-pass
    histogram (one corpus scan routes every target to its bucket);
    each quantile then resolves in its own narrowed interval — with
    8192 buckets a 100 TB column resolves every quantile after the
    shared pass plus one bounded sort each, instead of re-scanning the
    corpus per quantile. Returns [(q, value), ...] in input order.
    """
    import math

    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"exact_quantiles_histogram: q={q} not in [0,1]")
    vals = df.select(F.col(col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    first = vals.agg(
        F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    ).collect()[0]
    n = int(first["n"])
    if n == 0:
        return [(q, None) for q in qs]
    glo, ghi = float(first["lo"]), float(first["hi"])
    if glo == ghi or n <= collect_threshold:
        return [
            (q, exact_quantile_histogram(df, col, q, buckets, collect_threshold))
            for q in qs
        ]

    width = (ghi - glo) / buckets
    idx = F.least(
        F.lit(buckets - 1),
        F.floor((F.col("v") - F.lit(glo)) / F.lit(width)).cast("long"),
    )
    hist = dict(
        (int(r["b"]), int(r["c"]))
        for r in vals.groupBy(idx.alias("b")).agg(F.count("*").alias("c")).collect()
    )
    cumulative = []
    acc = 0
    for b in range(buckets):
        cumulative.append(acc)  # rows strictly below bucket b
        acc += hist.get(b, 0)

    # route every quantile to its bucket; bucket sizes are known from
    # the histogram BEFORE any collect, so the final resolution can be
    # one tagged scan: pull the (few) target buckets' values in a
    # single pass and finish each order statistic driver-side — total
    # corpus scans = 3 (agg, histogram, target-bucket collect),
    # independent of len(qs)
    targets: dict[int, list[tuple[float, int]]] = {}
    fallback_qs: list[float] = []
    for q in qs:
        k = max(1, math.ceil(q * n))
        b = 0
        for b in range(buckets):
            if cumulative[b] + hist.get(b, 0) >= k:
                break
        if hist.get(b, 0) <= collect_threshold:
            targets.setdefault(b, []).append((q, k - cumulative[b]))
        else:
            # oversized bucket (a huge value mass): single-q refinement
            # keeps narrowing until its bounded-sort threshold
            fallback_qs.append(q)

    resolved: dict[float, float] = {}
    if targets:
        idx_tagged = F.least(
            F.lit(buckets - 1),
            F.floor((F.col("v") - F.lit(glo)) / F.lit(width)).cast("long"),
        )
        rows = (
            vals.withColumn("b", idx_tagged)
            .filter(F.col("b").isin(list(targets)))
            .collect()
        )
        by_bucket: dict[int, list[float]] = {}
        for r in rows:
            by_bucket.setdefault(int(r["b"]), []).append(float(r["v"]))
        for b, wants in targets.items():
            bucket_vals = sorted(by_bucket[b])
            for q, remaining in wants:
                resolved[q] = bucket_vals[remaining - 1]
    for q in fallback_qs:
        resolved[q] = exact_quantile_histogram(
            df, col, q, buckets, collect_threshold, max_passes
        )
    return [(q, resolved[q]) for q in qs]
