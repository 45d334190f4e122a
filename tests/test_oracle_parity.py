"""Local replica of the driver's t2 gate: every query with a DuckDB
oracle must match on row count, sorted-column schema, and values
(order-insensitive)."""

from __future__ import annotations

import math
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest

from etl_sendas_spark.plans.inventory import (
    EXTRA_ORACLES,
    EXTRA_QUERIES,
    ORACLES,
    QUERIES,
)

from conftest import SF_ORACLE, TABLES

# driver window (first 50) + pytest-only variants: identical oracle bar
ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}
ALL_ORACLES = {**ORACLES, **EXTRA_ORACLES}

# Spark/DuckDB pairs computed by a thread pool (guide §2.6: Spark
# happily overlaps independent jobs submitted from driver threads —
# the suite's dominant cost was ~200 sequential tiny Spark queries,
# each leaving most of the session idle). The driver's verify budget
# timed the suite out in r12 (VERDICT item 1); this keeps every
# per-query assertion as its own test while the compute saturates the
# session. Safe because queries are mutually independent: distinct
# scratch slugs / memory-sink names / index dirs per query, the only
# in-query conf writes are idempotent same-value sets, and job
# descriptions are thread-local.
_N_PARITY_WORKERS = int(os.environ.get("SPARK_GRAFT_TEST_WORKERS", "8"))


@pytest.fixture(scope="session")
def parity_results(request, spark):
    """name -> (ours, theirs, err) for exactly the collected parity
    tests, computed concurrently on first use. DuckDB connections are
    per-thread (a connection is not safe for concurrent execute)."""
    import duckdb

    names = sorted(
        {
            item.callspec.params["name"]
            for item in request.session.items
            if getattr(item, "callspec", None) is not None
            and item.function.__name__ == "test_matches_oracle"
        }
    )
    tls = threading.local()
    cons = []  # every thread's connection, closed once the pool drains
    cons_lock = threading.Lock()

    def work(name):
        try:
            if not hasattr(tls, "con"):
                con = duckdb.connect()
                with cons_lock:
                    cons.append(con)
                for t in TABLES:
                    path = os.path.join(SF_ORACLE, f"{t}.parquet")
                    if os.path.exists(path):
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM '{path}'"
                        )
                tls.con = con
            ours = _canon(ALL_QUERIES[name](spark, SF_ORACLE).toPandas())
            theirs = _canon(tls.con.execute(ALL_ORACLES[name]).df())
            return name, (ours, theirs, None)
        except Exception as e:  # noqa: BLE001 — re-raised in the test
            return name, (None, None, e)

    out = {}
    try:
        with ThreadPoolExecutor(max_workers=_N_PARITY_WORKERS) as pool:
            for name, res in pool.map(work, names):
                out[name] = res
    finally:
        for con in cons:
            con.close()
    return out


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


@pytest.mark.parametrize("name", sorted(ALL_ORACLES))
def test_matches_oracle(name, parity_results):
    ours, theirs, err = parity_results[name]
    if err is not None:
        raise err
    assert len(ours) == len(theirs), f"{name}: row count {len(ours)} vs {len(theirs)}"
    assert list(ours.columns) == list(theirs.columns), f"{name}: columns differ"
    for c in ours.columns:
        a, b = ours[c], theirs[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a = pd.to_numeric(a, errors="coerce")
            b = pd.to_numeric(b, errors="coerce")
            bad = ~(
                (a.isna() & b.isna())
                | (abs(a - b) <= 1e-9 + 1e-9 * abs(b))
            )
            assert not bad.any(), (
                f"{name}.{c}: {int(bad.sum())} mismatches, first: "
                f"{a[bad].head(3).tolist()} vs {b[bad].head(3).tolist()}"
            )
        else:
            same = (a == b) | (a.isna() & b.isna())
            assert same.all(), (
                f"{name}.{c}: first diff {a[~same].head(3).tolist()} vs "
                f"{b[~same].head(3).tolist()}"
            )


def test_every_query_runs(spark):
    """Queries without an oracle still must run and return a schema.

    Every registered query currently HAS an oracle (asserted below), so
    each is already executed IN FULL by its ``test_matches_oracle`` row
    — re-running all ~200 here serially cost ~285 s of the r12 suite's
    driver-verify timeout for strictly weaker coverage. Only queries
    that ever lose their oracle run here."""
    unoracled = sorted(set(ALL_QUERIES) - set(ALL_ORACLES))
    assert set(ALL_ORACLES) <= set(ALL_QUERIES)
    for name in unoracled:
        df = ALL_QUERIES[name](spark, SF_ORACLE)
        assert df.columns, name
        df.limit(5).collect()


def test_embedding_near_dup_bucketed_parity(spark, duck):
    """The scale path (sign-LSH buckets, no driver collect) must match
    its DuckDB mirror, which embeds the same plane constants."""
    from etl_sendas_spark.plans.inventory import (
        EMB_NEAR_DUP_BUCKETED_SQL,
        embedding_near_dup_bucketed,
    )

    srows = sorted(
        tuple(r) for r in embedding_near_dup_bucketed(spark, SF_ORACLE).collect()
    )
    orows = sorted(tuple(r) for r in duck.execute(EMB_NEAR_DUP_BUCKETED_SQL).fetchall())
    assert srows == orows
    assert len(srows) > 0
