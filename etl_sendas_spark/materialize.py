"""Pluggable materialization points (stage-table pins).

The reference pipeline persists stage tables between phases by writing
files to disk (``capital_sendas.py:600`` writes the phase output and
later phases read it back). The Spark engine needs the same primitive —
"cut the lineage, pin the intermediate". The pin sites are:

- the one enriched stage inside
  :func:`..plans.capital_sendas.run_pipeline`;
- the dedup pair outputs, the prefix-filter token table and each
  connected-components round (:mod:`..operators.dedupe`);
- the IVF centroids and index probes, and the semantic-dedup centroids
  and assignments (:mod:`..operators.similarity`);
- the n-gram language-ID tables (:mod:`..functions.text`);
- the order baskets of the ``a_association_rules`` query.

The right *mechanism* depends on where the job runs, so it is a
strategy knob, not a hard-coded call:

- ``local`` — ``DataFrame.localCheckpoint(eager=True)``. Fastest: the
  materialized blocks live on executors and lineage is truncated. NOT
  fault-tolerant — one lost executor makes the frame unrecoverable.
  Right for ``local[n]`` and for short jobs where restart-from-scratch
  is acceptable.
- ``reliable`` — ``DataFrame.checkpoint(eager=True)`` into the
  checkpoint dir (HDFS/S3/DBFS on a cluster; configured via
  ``spark.etl_sendas.stageDir`` or an existing
  ``sparkContext.setCheckpointDir``). Survives executor loss — the
  correct default for a 1000-executor 100 TB run with preemption.
- ``parquet`` — an explicit stage-parquet write + read-back: the
  literal Spark translation of the reference's between-phase file
  writes. Slightly slower than ``reliable`` but the stage is a normal
  columnar table — inspectable, resumable across *driver* restarts,
  and the read-back scan gets column pruning / data skipping that
  checkpoint block reads do not.
- ``none`` — identity: keep the plan fully lazy (for callers that
  embed these DAGs inside a larger optimized plan). Every consumer then
  recomputes the frame, so a pinned frame's columns must be the same on
  every execution — ``run_pipeline``'s are (its row ids are
  key-derived or positional over fixed files).

Strategy resolution order (first set wins):
explicit ``strategy=`` argument → Spark conf
``spark.etl_sendas.materialize`` → ``"local"``.

:func:`release` frees a pinned frame's storage. For ``local``/
``reliable`` frames it unpersists the *checkpointed internal RDD* (a
plain ``DataFrame.unpersist()`` is a documented no-op here — checkpoint
blocks are not registered with the cache manager, so they otherwise
live until the ContextCleaner gets around to them); for ``parquet``
frames it deletes the stage directory this module wrote.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

CONF_STRATEGY = "spark.etl_sendas.materialize"
CONF_STAGE_DIR = "spark.etl_sendas.stageDir"

STRATEGIES = ("local", "reliable", "parquet", "none")

# parquet-stage paths owned by this module, keyed by the frame that
# reads them; used by release() to delete what materialize() wrote.
_STAGE_PATH_ATTR = "_etl_sendas_stage_path"


def resolve_strategy(spark: SparkSession, strategy: str | None = None) -> str:
    s = strategy or spark.conf.get(CONF_STRATEGY, "local")
    if s not in STRATEGIES:
        raise ValueError(
            f"unknown materialization strategy {s!r}; expected one of {STRATEGIES}"
        )
    return s


def stage_dir(spark: SparkSession) -> str:
    """Root directory for reliable checkpoints / parquet stages.

    On a cluster this MUST be set (to HDFS/S3) via the
    ``spark.etl_sendas.stageDir`` conf; locally it falls back to a
    per-app temp directory.
    """
    d = spark.conf.get(CONF_STAGE_DIR, None)
    if not d:
        d = os.path.join(
            tempfile.gettempdir(),
            f"etl_sendas_stages-{spark.sparkContext.applicationId}",
        )
    return d


def materialize(
    df: DataFrame, name: str = "stage", strategy: str | None = None
) -> DataFrame:
    """Eagerly pin ``df`` as a stage table and return the pinned frame.

    Every consumer of the returned frame reads the same computed rows,
    which also makes per-execution values (such as
    ``monotonically_increasing_id`` above a shuffle) safe to join
    across its branches.

    ``name`` labels the parquet stage path (and makes stage dirs
    readable when debugging a ``parquet``-mode run); it is ignored by
    the checkpoint strategies.
    """
    spark = df.sparkSession
    s = resolve_strategy(spark, strategy)
    if s == "none":
        return df
    if s == "local":
        return df.localCheckpoint(eager=True)
    if s == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(os.path.join(stage_dir(spark), "checkpoints"))
        return df.checkpoint(eager=True)
    # parquet: the reference's own between-phase discipline
    path = os.path.join(stage_dir(spark), f"{name}-{uuid.uuid4().hex[:12]}")
    df.write.mode("errorifexists").parquet(path)
    out = spark.read.parquet(path)
    setattr(out, _STAGE_PATH_ATTR, path)
    return out


def release(df: DataFrame) -> None:
    """Free the storage behind a frame returned by :func:`materialize`.

    Safe to call on any frame: non-pinned frames are a no-op. After
    release the frame must not be used again (its backing blocks/files
    are gone and its lineage was truncated at pin time).
    """
    path = getattr(df, _STAGE_PATH_ATTR, None)
    if path is not None:
        # local-filesystem stage (tests / single node); on HDFS/S3 the
        # stage dir is cleaned by the deployment's lifecycle policy.
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        return
    # checkpointed frames: the analyzed plan is a LogicalRDD wrapping
    # the internal RDD that localCheckpoint persisted. Unpersist THAT —
    # DataFrame.unpersist() can't reach it (not in the cache manager).
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        analyzed.rdd().unpersist(False)
    except Exception:
        # not a LogicalRDD (never pinned) or a connect-style session
        # without _jdf: fall back to the ordinary (no-op-safe) unpersist.
        df.unpersist()
