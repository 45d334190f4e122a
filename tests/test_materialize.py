"""The materialization knob (SURVEY §4 / VERDICT r3 item 1): every
stage-table pin must work under all three strategies — localCheckpoint
(fast, local), reliable checkpoint (cluster fault-tolerant), and
explicit stage parquet (the reference's own between-phase discipline,
``capital_sendas.py:600``) — with identical results, and release()
must actually free checkpoint storage (a bare DataFrame.unpersist
can't: checkpoint blocks aren't in the cache manager)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from conftest import SF_ORACLE

from etl_sendas_spark.materialize import (
    CONF_STRATEGY,
    materialize,
    release,
)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.fixture
def strategy_conf(spark):
    """Restore the session default (unset → 'local') after each test."""
    yield
    spark.conf.unset(CONF_STRATEGY)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_release_frees_local_checkpoint_blocks(spark):
    df = spark.range(10_000).selectExpr("id", "id * 2 AS v")
    before = _n_persistent(spark)
    pinned = materialize(df, strategy="local")
    assert _n_persistent(spark) == before + 1
    release(pinned)
    assert _n_persistent(spark) == before


def test_release_is_safe_on_unpinned_frames(spark):
    df = spark.range(10).selectExpr("id")
    release(df)  # no-op, must not raise
    assert df.count() == 10


@pytest.mark.parametrize("mode", ["local", "reliable", "parquet", "none"])
def test_flagship_identical_under_every_strategy(mode, spark, duck, strategy_conf):
    """The flagship pipeline must produce byte-identical results under
    every pin strategy, the lazy ``none`` included, and match the DuckDB
    oracle: the fact's row ids are key-derived, so every execution of
    the lazy plan numbers the rows alike."""
    from etl_sendas_spark.plans.inventory import ORACLES, QUERIES

    spark.conf.set(CONF_STRATEGY, mode)
    ours = _canon(QUERIES["sendas_full_pipeline"](spark, SF_ORACLE).toPandas())
    theirs = _canon(duck.execute(ORACLES["sendas_full_pipeline"]).df())
    assert len(ours) == len(theirs)
    assert list(ours.columns) == list(theirs.columns)
    pd.testing.assert_frame_equal(ours, theirs, check_dtype=False, atol=1e-9)


@pytest.mark.parametrize("mode", ["reliable", "parquet"])
def test_flagship_stage_pin_holds_in_cluster_modes(mode, spark, strategy_conf):
    """The r3 plan guarantee — no fact-source rescan above the pin —
    must survive the strategy swap: all 8 consumers (6 mark sets, the
    main pass, comprobar) read the stage table in reliable/parquet mode
    too."""
    from etl_sendas_spark.plans.inventory import sendas_full_pipeline

    spark.conf.set(CONF_STRATEGY, mode)
    out = sendas_full_pipeline(spark, SF_ORACLE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "lineitem.parquet" not in plan, plan[:2000]
    assert "orders.parquet" not in plan, plan[:2000]
    if mode == "parquet":
        # the stage table is a real parquet dir, named for debuggability:
        # run_pipeline's one pin, of the ENRICHED frame.
        assert "enriched_stage" in plan


@pytest.mark.parametrize("mode", ["reliable", "parquet", "none"])
def test_connected_components_identical_under_cluster_modes(mode, spark, strategy_conf):
    """The CC loop pins per round; every strategy must converge to the
    same labeling (chain 1-2-3 plus isolated pair 10-11)."""
    from etl_sendas_spark.operators.dedupe import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 6), (6, 7), (7, 5)],
        ["id_a", "id_b"],
    )
    spark.conf.set(CONF_STRATEGY, mode)
    got = sorted(
        tuple(r) for r in connected_components(pairs).collect()
    )
    assert got == [
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 5), (10, 10), (11, 10),
    ]


def test_dedupe_lazy_optout_runs_nothing_eagerly(spark):
    """materialize=False must return a pure plan builder: no jobs run
    at call time, nothing is persisted, and the lazy plan's result
    matches the pinned path's."""
    from etl_sendas_spark.operators.dedupe import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup())
    persistent_before = _n_persistent(spark)

    lazy = ngram_jaccard_pairs(docs, "doc_id", "text", materialize=False)
    assert len(tracker.getJobIdsForGroup()) == jobs_before
    assert _n_persistent(spark) == persistent_before

    pinned = ngram_jaccard_pairs(docs, "doc_id", "text")
    a = sorted(tuple(r) for r in lazy.collect())
    b = sorted(tuple(r) for r in pinned.collect())
    assert a == b
    release(pinned)


def test_unknown_strategy_rejected(spark):
    with pytest.raises(ValueError, match="unknown materialization strategy"):
        materialize(spark.range(1), strategy="banana")


# ---------------------------------------------------------------------------
# Strategy independence on hand-built audit inputs: NULL keys, duplicate
# fact rows, an empty month. run_pipeline pinned (local), run_pipeline
# lazy (none) and the literal sequential fold must all agree.
# ---------------------------------------------------------------------------

_RAW_COLS = [
    "SEDE_NOMBRE", "FACTURA", "FECHA_FACT", "INGRESO", "DOC_PACIENTE",
    "NOMBRE_PACIENTE", "FEC_NACIMIENTO", "GENERO", "EDAD", "SERVICIO",
    "NOM_SERVICIO_PRODUCTO", "FEC_SERVICIO", "CANT_SERVICIO", "VALOR_TOTAL",
    "COD_PLAN", "NOM_PLAN", "NOM_CENTROCOS", "COD_ENTIDAD1", "NOM_ENTIDAD1",
    "AMBITO", "DX_PRINCIPAL.0", "DX_PRINCIPAL.1",
]
_DATE_COLS = {"FECHA_FACT", "FEC_NACIMIENTO", "FEC_SERVICIO"}
# one tipologia per service, so each row lands in one rule's scope
_SERVICE_TIPS = {
    "SQ3": "Qx3", "SQ2": "Qx2", "SH1": "H1", "SHX": "HD", "SC1": "C1",
    "890502": "C4", "890285": "C4", "132P01": "C5", "SC5": "C5",
    "SQ1": "Qx1", "SC7": "C7", "SRM": "RM",
}


def _day(d: int, month: int = 3):
    return dt.date(2024, month, d)


def _raw(factura, servicio, fec=10, *, ingreso="ING", doc="P1", cant="2",
         valor="10", month=3, dx="DX1"):
    r = {c: None for c in _RAW_COLS}
    r.update({
        "SEDE_NOMBRE": "SEDE A", "FACTURA": factura, "FECHA_FACT": _day(1, month),
        "INGRESO": ingreso, "DOC_PACIENTE": doc,
        "NOMBRE_PACIENTE": "ANA MARIA DE LOS RIOS", "FEC_NACIMIENTO": _day(1, 1),
        "GENERO": "F", "EDAD": "40", "SERVICIO": servicio,
        "NOM_SERVICIO_PRODUCTO": "SVC",
        "FEC_SERVICIO": None if fec is None else _day(fec, month),
        "CANT_SERVICIO": cant, "VALOR_TOTAL": valor, "COD_PLAN": "PGP01",
        "NOM_PLAN": "PLAN PGP", "NOM_CENTROCOS": "CC1", "COD_ENTIDAD1": "E1",
        "NOM_ENTIDAD1": "ENT", "AMBITO": "CONSULTA EXTERNA",
        "DX_PRINCIPAL.0": "A0", "DX_PRINCIPAL.1": dx,
    })
    return tuple(r[c] for c in _RAW_COLS)


_NULL_KEYS = [
    # NULL FACTURA in R1 (Qx), R2 (H), R4 (C4 + 132P01) and R8 (Qx1)
    _raw(None, "SQ3"), _raw(None, "SQ3"), _raw(None, "SQ2"), _raw(None, "SQ3", None),
    _raw(None, "SH1"), _raw(None, "SH1"), _raw(None, "890502"), _raw(None, "890285"),
    _raw(None, "132P01", ingreso="I9"), _raw(None, "SQ1"), _raw(None, "SQ1"),
    _raw("F1", "SQ1", None), _raw("F1", "SQ1"),
    # NULL DOC_PACIENTE / FEC_SERVICIO in R3 (C1)
    _raw("F2", "SC1", doc=None), _raw("F2", "SC1", doc=None), _raw("F2", "SC1", None),
    _raw("F2", "SC1", None, doc=None), _raw("F2", "SC1", 11),
    # NULL INGRESO / DOC_PACIENTE / FEC_SERVICIO in R7 (C5 gap walk)
    _raw("F3", "SC5", 1, ingreso=None), _raw("F3", "SC5", 3, ingreso=None),
    _raw("F3", "SC5", 5, ingreso="I1"), _raw("F3", "SC5", 9, ingreso="I2"),
    _raw("F3", "SC5", None, ingreso="I3"), _raw("F3", "SC5", 2, ingreso="I4", doc=None),
    _raw("F3", "SC5", 8, ingreso="I5", doc=None), _raw("F3", "SC5", None, ingreso=None),
    _raw("F4", "SHX"), _raw("F4", "SC7"), _raw("F4", "SRM", None),
    _raw("F5", "SC1", doc="P2"),  # unmatched patient → comprobar
]
_DUPLICATES = [
    # within-file duplicates survive S4 and compete for keep-first marks
    _raw("F1", "SQ3"), _raw("F1", "SQ3"), _raw("F1", "SQ3"), _raw("F1", "SQ3"),
    _raw("F1", "SH1"), _raw("F1", "SH1"), _raw("F1", "SC1"), _raw("F1", "SC1"),
    _raw("F1", "SQ1"), _raw("F1", "SQ1"), _raw("F1", "890502"), _raw("F1", "132P01"),
    _raw("F2", "SC5", 1, ingreso="I1"), _raw("F2", "SC5", 1, ingreso="I1"),
    _raw("F2", "SC5", 6, ingreso="I2"), _raw("F2", "SC5", 6, ingreso="I2"),
    _raw("F2", "SC5", 8, ingreso="I3"), _raw("F2", "SC5", 8, ingreso="I3"),
]
_EMPTY_MONTH = [
    _raw("F1", "SQ3", month=2), _raw("F1", "SC5", month=2), _raw("F2", "SC1", month=2),
]


def _audit_inputs(spark, rows):
    """The rows as two 'files' through S4 (the second repeats the
    first's head, which the cross-file dedup drops) + the dims."""
    from pyspark.sql import types as T

    from etl_sendas_spark.sources.readers import load_fact_files

    schema = T.StructType([
        T.StructField(c, T.DateType() if c in _DATE_COLS else T.StringType())
        for c in _RAW_COLS
    ])
    half = len(rows) // 2
    files = [
        spark.createDataFrame(rows, schema),
        spark.createDataFrame(rows[:half], schema),
    ]
    fact = load_fact_files(spark, files)
    svc = sorted(_SERVICE_TIPS)
    codigos = spark.createDataFrame(
        [(s, "CON", "G1") for s in svc], ["SERVICIO", "CONCEPTO", "GRUPO QX"]
    )
    tipologia = spark.createDataFrame(
        [(s, "CC1", _SERVICE_TIPS[s]) for s in svc],
        ["SERVICIO", "NOM_CENTROCOS", "tipologia"],
    )
    anexos = spark.createDataFrame(
        [(s, "MEDICINA GENERAL") for s in svc], ["CUPS", "TIPOLOGIA NOMBRE"]
    )
    bases = spark.createDataFrame([("P1", "IPS NORTE")], ["documento", "ips"])
    return fact, codigos, tipologia, anexos, bases


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize(
    "rows", [_NULL_KEYS, _DUPLICATES, _EMPTY_MONTH],
    ids=["null_keys", "duplicates", "empty_month"],
)
def test_audit_fixtures_identical_pinned_lazy_and_sequential(rows, spark, strategy_conf):
    from etl_sendas_spark.plans.capital_sendas import (
        apply_rules_sequential,
        enrich,
        finalize,
        ingest_filters,
        parse_and_filter_month,
        run_pipeline,
    )

    inputs = _audit_inputs(spark, rows)
    got = {}
    for mode in ("local", "none"):
        spark.conf.set(CONF_STRATEGY, mode)
        out, chk = run_pipeline(*inputs, mes=3, parse_dates=False)
        got[mode] = (_rows(out), _rows(chk))

    fact, codigos, tipologia, anexos, bases = inputs
    enriched = materialize(
        enrich(
            parse_and_filter_month(ingest_filters(fact), 3, parse_dates=False),
            codigos, tipologia, anexos, bases,
        ),
        strategy="local",
    )
    sequential = _rows(finalize(apply_rules_sequential(enriched)))

    assert got["local"] == got["none"]
    assert got["local"][0] == sequential
    if rows is _EMPTY_MONTH:
        assert sequential == [] and got["local"][1] == []
    else:
        marks = [r[-1] for r in sequential]
        # the fixtures reach both marked and unmarked rows
        assert 0 in marks and 1 in marks, marks
