"""SparkSession factory.

The reference pipeline is eager single-threaded pandas
(``capital_sendas.py:96-596``); everything here exists to replace that
with one lazy Catalyst plan executed by Tungsten. Settings are chosen
for correctness-vs-DuckDB comparison (UTC timezone, ANSI off) and for
scale (AQE on, skew-join handling, Arrow for the few pandas UDFs).

On a real cluster the same factory applies — only ``master`` and the
shuffle-partition count change (rule of thumb: 2-3× total cores, or
let AQE coalesce from a high initial value).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def merge_conf(
    env_conf: str, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """The conf overrides :func:`get_spark` layers over its defaults.

    ``env_conf`` is the ``SPARK_GRAFT_EXTRA_CONF`` value,
    ``"k1=v1;k2=v2"``: deployment/experiment overrides without code
    edits. Explicit ``extra_conf`` arguments win over it, and both win
    over the built-in defaults. A non-empty pair with no ``=`` (say,
    the tail of a value that itself contained ``;``) is skipped with a
    warning rather than silently.
    """
    merged: dict[str, str] = {}
    for pair in env_conf.split(";"):
        if not pair.strip():
            continue
        k, sep, v = pair.partition("=")
        if not sep or not k.strip():
            warnings.warn(
                f"SPARK_GRAFT_EXTRA_CONF: ignoring {pair!r} (expected key=value)",
                stacklevel=2,
            )
            continue
        merged[k.strip()] = v.strip()
    merged.update(extra_conf or {})
    return merged


def get_spark(
    app_name: str = "etl_sendas_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Parameters are overridable so tests can shrink parallelism and a
    cluster deploy can raise it; every default is safe at both ends.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- determinism / oracle comparability -------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-plan, skew handling ----
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ----------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # 128 MiB splits keep scan partitions executor-memory-sized
        # at 100 TB (→ ~800k tasks, fine for a 1000-executor cluster).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- broadcast: all reference dims are tiny ----------------
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Python boundary: Arrow everywhere ---------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # lets Python DataSources (sources/txlog_source.py) receive
        # Catalyst's pushed predicates for manifest-level file pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- parquet TIMESTAMP(NANOS) (driver testdata) → long ------
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- local-mode niceties -----------------------------------
        # keep catalog metadata (bucketed-table registrations) out of cwd
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                __import__("tempfile").gettempdir(), "etl_sendas_warehouse"
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    merged = merge_conf(os.environ.get("SPARK_GRAFT_EXTRA_CONF", ""), extra_conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
