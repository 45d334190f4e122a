"""Session-config decoupling: every reader must work on a SparkSession
the ENGINE did not build.

Round-1 regression: the driver's harness constructs its own vanilla
``SparkSession`` (no ``spark.sql.legacy.parquet.nanosAsLong``), and the
testdata's ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS) — a bare
``spark.read.parquet`` throws ``PARQUET_TYPE_ILLEGAL``, which took down
all 10 events-backed driver queries. ``read_table`` /
``_stream_events`` now set the conf at read time; these tests pin that.
"""

from __future__ import annotations

import os
import subprocess
import sys

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a FRESH interpreter + JVM with a session built exactly the way
# the driver harness builds one: bare builder, no engine confs at all.
_BARE_SESSION_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("vanilla")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"

from etl_sendas_spark.sources.readers import read_table
from __spark_entry__ import queries

ev = read_table(spark, {sf!r}, "events")
assert dict(ev.dtypes)["ts"] == "timestamp", dict(ev.dtypes)
assert ev.count() > 0

# one full events-backed driver query end-to-end on the vanilla session
res = queries()["j_asof_events"](spark, {sf!r})
n = res.count()
assert n > 0, n

# the Excel-dim ingest must not depend on Arrow-assisted type inference
# (a bare non-Arrow session mis-infers pandas NA cells -> CANNOT_MERGE_TYPE)
n_dim = queries()["s1_excel_dim"](spark, {sf!r}).count()
assert n_dim > 0, n_dim
print("VANILLA_OK", n)
"""


def test_events_reads_on_vanilla_session():
    script = _BARE_SESSION_SCRIPT.format(repo=REPO, sf=SF)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "VANILLA_OK" in proc.stdout


def test_events_reads_microsecond_ntz_parquet(spark, tmp_path):
    """Timestamp-flavor robustness: a user's ordinary µs parquet (what
    DuckDB/pyarrow write: isAdjustedToUTC=false) infers as TIMESTAMP_NTZ
    on Spark 4, which breaks epoch casts and stream watermarks.
    ``read_table`` must normalize it to TimestampType just like the
    driver testdata's nanos flavor."""
    import duckdb

    from etl_sendas_spark.sources.readers import read_table

    src = os.path.join(SF, "events.parquet")
    dst = str(tmp_path / "events.parquet")
    duckdb.sql(f"COPY (SELECT * FROM read_parquet('{src}')) TO '{dst}' (FORMAT PARQUET)")
    ev = read_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp", dict(ev.dtypes)
    # epoch cast (what bounded_range_join does) must resolve
    assert ev.selectExpr("unix_micros(ts)").count() > 0


def test_sql_entry_point_matches_dataframe_api(spark):
    """register_views makes spark.sql a first-class surface: an ANSI
    query over the views returns exactly what the DataFrame API plan
    returns (same Catalyst plans underneath)."""
    from pyspark.sql import functions as F

    from conftest import SF_ORACLE
    from etl_sendas_spark.sources.readers import read_table, register_views

    names = register_views(spark, SF_ORACLE)
    assert {"lineitem", "orders", "events"} <= set(names)

    via_sql = spark.sql("""
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty
        FROM lineitem WHERE l_shipdate >= '1997-01-01'
        GROUP BY l_returnflag
    """).collect()
    li = read_table(spark, SF_ORACLE, "lineitem")
    via_df = (
        li.filter(F.col("l_shipdate") >= F.lit("1997-01-01"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double").alias("qty"),
        )
        .collect()
    )
    assert sorted(map(tuple, via_sql)) == sorted(map(tuple, via_df))


def test_merge_conf_precedence_and_malformed_pairs():
    """Explicit ``extra_conf`` wins over ``SPARK_GRAFT_EXTRA_CONF``,
    which wins over the built-in defaults (applied before both); a
    non-empty pair without ``=`` is skipped with a warning."""
    import warnings

    from etl_sendas_spark.session import merge_conf

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert merge_conf("") == {}
        assert merge_conf(" a = 1 ;; b=x=y;", {"c": "3"}) == {
            "a": "1", "b": "x=y", "c": "3",
        }
        assert merge_conf("a=env;b=env", {"a": "arg"}) == {"a": "arg", "b": "env"}

    # a value holding ';' is cut at it: the tail has no '=' and is
    # reported instead of dropped silently
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = merge_conf("k=v1;v2;=orphan;j=2")
    assert got == {"k": "v1", "j": "2"}
    msgs = [str(w.message) for w in caught]
    assert len(msgs) == 2 and "'v2'" in msgs[0] and "'=orphan'" in msgs[1], msgs
