"""Golden tests for the capital-sendas rule engine (FIXTURES.md §A6).

Every expectation below is hand-computed from the reference semantics
at the cited lines of /root/reference/capital_sendas.py — including the
documented edge cases: R1's 3-of-one-group cap, R7's strict >3-day gap
with the anchor on the last MARKED row, R4's 132P01 invoice zeroing,
and the precedence overlaps (HD hit by R2 then forced by R6; Qx1 hit
by R1 then rewritten by R8).
"""

from __future__ import annotations

import datetime as dt
import itertools

import pytest
from pyspark.sql import functions as F, types as T

from etl_sendas_spark.operators.relational import keep_first
from etl_sendas_spark.plans.capital_sendas import (
    apply_rules,
    apply_rules_sequential,
    attach_typology_name,
    comprobar,
    enrich,
    rule_c1,
    rule_c4,
    rule_c5,
    rule_egreso,
    rule_qx,
    rule_qx1,
    run_pipeline,
)
from etl_sendas_spark.sources.readers import ROW_ID


def D(day: int) -> dt.date:
    return dt.date(2024, 9, day)


FACT_FIELDS = [
    ("FACTURA", T.StringType()),
    ("INGRESO", T.StringType()),
    ("DOC_PACIENTE", T.StringType()),
    ("FEC_SERVICIO", T.DateType()),
    ("SERVICIO", T.StringType()),
    ("NOM_CENTROCOS", T.StringType()),
    ("CANT_SERVICIO", T.IntegerType()),
    ("VALOR_TOTAL", T.IntegerType()),
    ("COD_PLAN", T.StringType()),
    ("AMBITO", T.StringType()),
    ("tipologia", T.StringType()),
    ("DX_PRINCIPAL.1", T.StringType()),
]

FACT_SCHEMA = T.StructType(
    [T.StructField(ROW_ID, T.LongType(), False)]
    + [T.StructField(n, t, True) for n, t in FACT_FIELDS]
    + [T.StructField("validacion", T.IntegerType(), False)]
)


def fact_df(spark, rows: list[dict]):
    """Build an enriched-fact frame from sparse row dicts (validacion=0)."""
    full = []
    for i, r in enumerate(rows):
        base = {name: None for name, _ in FACT_FIELDS}
        base.update(r)
        base[ROW_ID] = i
        base.setdefault("validacion", 0)
        full.append(tuple(base[f.name] for f in FACT_SCHEMA.fields))
    return spark.createDataFrame(full, FACT_SCHEMA)


def flags(df) -> dict[int, int]:
    return {
        r[ROW_ID]: r["validacion"]
        for r in df.select(ROW_ID, "validacion").collect()
    }


# ---------------------------------------------------------------------------
# R1 Quirófano (reference :326-380)
# ---------------------------------------------------------------------------

def test_rule_qx_run_and_total_caps(spark):
    rows = [
        # F1/day10: walk is tipologia DESC → Qx3,Qx3,Qx3,Qx2.
        # Three of one group: only first 2 marked; then Qx2 marked (3rd total).
        {"FACTURA": "F1", "FEC_SERVICIO": D(10), "tipologia": "Qx3", "VALOR_TOTAL": 5},  # 0 → 1
        {"FACTURA": "F1", "FEC_SERVICIO": D(10), "tipologia": "Qx3", "VALOR_TOTAL": 5},  # 1 → 1
        {"FACTURA": "F1", "FEC_SERVICIO": D(10), "tipologia": "Qx3", "VALOR_TOTAL": 5},  # 2 → 0 (per-run cap)
        {"FACTURA": "F1", "FEC_SERVICIO": D(10), "tipologia": "Qx2", "VALOR_TOTAL": 5},  # 3 → 1 (3rd mark)
        # F2/day10: total cap hits mid-second-run; Qx1 never reached.
        {"FACTURA": "F2", "FEC_SERVICIO": D(10), "tipologia": "Qx3", "VALOR_TOTAL": 5},  # 4 → 1
        {"FACTURA": "F2", "FEC_SERVICIO": D(10), "tipologia": "Qx3", "VALOR_TOTAL": 5},  # 5 → 1
        {"FACTURA": "F2", "FEC_SERVICIO": D(10), "tipologia": "Qx2", "VALOR_TOTAL": 5},  # 6 → 1
        {"FACTURA": "F2", "FEC_SERVICIO": D(10), "tipologia": "Qx2", "VALOR_TOTAL": 5},  # 7 → 0 (total cap)
        {"FACTURA": "F2", "FEC_SERVICIO": D(10), "tipologia": "Qx1", "VALOR_TOTAL": 5},  # 8 → 0 (total cap)
        # Scope exclusions: zero value, and non-Qx typology.
        {"FACTURA": "F3", "FEC_SERVICIO": D(10), "tipologia": "Qx3", "VALOR_TOTAL": 0},  # 9 → 0
        {"FACTURA": "F3", "FEC_SERVICIO": D(10), "tipologia": "C1", "VALOR_TOTAL": 5},   # 10 → 0
        # Same invoice, different day → independent group.
        {"FACTURA": "F1", "FEC_SERVICIO": D(11), "tipologia": "Qx1", "VALOR_TOTAL": 5},  # 11 → 1
    ]
    got = flags(rule_qx(fact_df(spark, rows)))
    assert got == {0: 1, 1: 1, 2: 0, 3: 1, 4: 1, 5: 1, 6: 1, 7: 0, 8: 0, 9: 0, 10: 0, 11: 1}


# ---------------------------------------------------------------------------
# R2 Egreso (reference :383-410)
# ---------------------------------------------------------------------------

def test_rule_egreso_dual_keys(spark):
    rows = [
        # H1 (in H1–H5): key includes NOM_CENTROCOS → both cost centers marked.
        {"FACTURA": "F1", "SERVICIO": "S1", "NOM_CENTROCOS": "CC1", "tipologia": "H1"},  # 0 → 1
        {"FACTURA": "F1", "SERVICIO": "S1", "NOM_CENTROCOS": "CC2", "tipologia": "H1"},  # 1 → 1
        {"FACTURA": "F1", "SERVICIO": "S1", "NOM_CENTROCOS": "CC1", "tipologia": "H1"},  # 2 → 0 (dup)
        # H9 (other-H): key is (FACTURA, SERVICIO) only → CC change irrelevant.
        {"FACTURA": "F2", "SERVICIO": "S2", "NOM_CENTROCOS": "CC1", "tipologia": "H9"},  # 3 → 1
        {"FACTURA": "F2", "SERVICIO": "S2", "NOM_CENTROCOS": "CC2", "tipologia": "H9"},  # 4 → 0 (dup despite CC)
        # HD starts with 'H' → other-H branch marks its first row too.
        {"FACTURA": "F3", "SERVICIO": "S3", "NOM_CENTROCOS": "CC1", "tipologia": "HD"},  # 5 → 1
        {"FACTURA": "F3", "SERVICIO": "S3", "NOM_CENTROCOS": "CC1", "tipologia": "HD"},  # 6 → 0
        # Not in scope.
        {"FACTURA": "F4", "SERVICIO": "S4", "NOM_CENTROCOS": "CC1", "tipologia": "C1"},  # 7 → 0
        {"FACTURA": "F5", "SERVICIO": "S5", "NOM_CENTROCOS": "CC1", "tipologia": None},  # 8 → 0
    ]
    got = flags(rule_egreso(fact_df(spark, rows)))
    assert got == {0: 1, 1: 1, 2: 0, 3: 1, 4: 0, 5: 1, 6: 0, 7: 0, 8: 0}


# ---------------------------------------------------------------------------
# R3 Ambulatorio C1 (reference :415-429)
# ---------------------------------------------------------------------------

def test_rule_c1_first_per_patient_day(spark):
    rows = [
        {"DOC_PACIENTE": "P1", "FEC_SERVICIO": D(1), "tipologia": "C1", "COD_PLAN": "PGP01"},  # 0 → 1
        {"DOC_PACIENTE": "P1", "FEC_SERVICIO": D(1), "tipologia": "C1", "COD_PLAN": "PGP01"},  # 1 → 0
        {"DOC_PACIENTE": "P1", "FEC_SERVICIO": D(2), "tipologia": "C1", "COD_PLAN": "PGP01"},  # 2 → 1 (new day)
        {"DOC_PACIENTE": "P2", "FEC_SERVICIO": D(1), "tipologia": "C1", "COD_PLAN": "PGP01"},  # 3 → 1 (new patient)
        {"DOC_PACIENTE": "P3", "FEC_SERVICIO": D(1), "tipologia": "C1", "COD_PLAN": "ABC"},    # 4 → 0 (plan not PGP)
        {"DOC_PACIENTE": "P4", "FEC_SERVICIO": D(1), "tipologia": "C1", "COD_PLAN": None},     # 5 → 0 (null plan)
        {"DOC_PACIENTE": "P5", "FEC_SERVICIO": D(1), "tipologia": "C2", "COD_PLAN": "PGP01"},  # 6 → 0 (not C1)
    ]
    got = flags(rule_c1(fact_df(spark, rows)))
    assert got == {0: 1, 1: 0, 2: 1, 3: 1, 4: 0, 5: 0, 6: 0}


# ---------------------------------------------------------------------------
# R4 Ambulatorio C4 (reference :431-456)
# ---------------------------------------------------------------------------

def test_rule_c4_case_chain_and_invoice_zeroing(spark):
    CE = "CONSULTA EXTERNA"
    rows = [
        # Plain C4 in consulta externa → 1.
        {"FACTURA": "F1", "AMBITO": CE, "tipologia": "C4", "SERVICIO": "999999", "CANT_SERVICIO": 7},  # 0 → 1
        # 890502 → CANT_SERVICIO (invoice has no 132P01).
        {"FACTURA": "F1", "AMBITO": CE, "tipologia": "C4", "SERVICIO": "890502", "CANT_SERVICIO": 4},  # 1 → 4
        # F2 contains 132P01 (carried by a NON-C4 row): its C4 invalidables → 0.
        {"FACTURA": "F2", "AMBITO": "URGENCIAS", "tipologia": "C5", "SERVICIO": "132P01", "CANT_SERVICIO": 1},  # 2 → 0 (not C4)
        {"FACTURA": "F2", "AMBITO": CE, "tipologia": "C4", "SERVICIO": "890285", "CANT_SERVICIO": 2},  # 3 → 0 (zeroed)
        {"FACTURA": "F2", "AMBITO": CE, "tipologia": "C4", "SERVICIO": "890502", "CANT_SERVICIO": 6},  # 4 → 0 (zeroed)
        {"FACTURA": "F2", "AMBITO": CE, "tipologia": "C4", "SERVICIO": "777777", "CANT_SERVICIO": 1},  # 5 → 1 (not invalidable)
        # C4 outside consulta externa → untouched.
        {"FACTURA": "F3", "AMBITO": "URGENCIAS", "tipologia": "C4", "SERVICIO": "999999", "CANT_SERVICIO": 3},  # 6 → 0
    ]
    got = flags(rule_c4(fact_df(spark, rows)))
    assert got == {0: 1, 1: 4, 2: 0, 3: 0, 4: 0, 5: 1, 6: 0}


def test_c4_zeroing_groups_null_invoices_like_the_fold(spark):
    """The one-pass engine's R4 zeroing must treat a NULL FACTURA as one
    invoice, as the sequential fold's FACTURA window does: a NULL
    invoice holding a 132P01 row zeroes its invalidable C4 rows."""
    CE = "CONSULTA EXTERNA"
    rows = [
        {"FACTURA": None, "AMBITO": "URGENCIAS", "tipologia": "C5", "SERVICIO": "132P01"},  # 0
        {"FACTURA": None, "AMBITO": CE, "tipologia": "C4", "SERVICIO": "890285", "CANT_SERVICIO": 2},  # 1 → 0
        {"FACTURA": None, "AMBITO": CE, "tipologia": "C4", "SERVICIO": "890502", "CANT_SERVICIO": 6},  # 2 → 0
        {"FACTURA": None, "AMBITO": CE, "tipologia": "C4", "SERVICIO": "777777", "CANT_SERVICIO": 1},  # 3 → 1
        {"FACTURA": "F1", "AMBITO": CE, "tipologia": "C4", "SERVICIO": "890285", "CANT_SERVICIO": 2},  # 4 → 1
    ]
    fact = fact_df(spark, rows)
    got = flags(apply_rules(fact))
    assert got == flags(apply_rules_sequential(fact))
    assert got[1] == 0 and got[2] == 0 and got[3] == 1 and got[4] == 1


# ---------------------------------------------------------------------------
# R7 Consultorio urgencias C5 (reference :484-543)
# ---------------------------------------------------------------------------

def test_rule_c5_strict_gap_and_ingreso_dedup(spark):
    rows = [
        # P1/DX1 at days 1, 4, 5, 9:
        #  day1 → 1 (first), anchor=day1
        #  day4 → 0 (diff 3, NOT >3 — the strict-boundary edge case)
        #  day5 → 1 (diff 4 from the STILL-day1 anchor), anchor=day5
        #  day9 → 1 (diff 4)
        {"DOC_PACIENTE": "P1", "DX_PRINCIPAL.1": "DX1", "FEC_SERVICIO": D(1), "INGRESO": "I1", "tipologia": "C5"},  # 0 → 1
        {"DOC_PACIENTE": "P1", "DX_PRINCIPAL.1": "DX1", "FEC_SERVICIO": D(4), "INGRESO": "I2", "tipologia": "C5"},  # 1 → 0
        {"DOC_PACIENTE": "P1", "DX_PRINCIPAL.1": "DX1", "FEC_SERVICIO": D(5), "INGRESO": "I3", "tipologia": "C5"},  # 2 → 1
        {"DOC_PACIENTE": "P1", "DX_PRINCIPAL.1": "DX1", "FEC_SERVICIO": D(9), "INGRESO": "I4", "tipologia": "C5"},  # 3 → 1
        # Duplicate INGRESO I1 → dropped by the dedup, stays 0.
        {"DOC_PACIENTE": "P1", "DX_PRINCIPAL.1": "DX1", "FEC_SERVICIO": D(2), "INGRESO": "I1", "tipologia": "C5"},  # 4 → 0
        # Different dx → independent anchor.
        {"DOC_PACIENTE": "P1", "DX_PRINCIPAL.1": "DX2", "FEC_SERVICIO": D(2), "INGRESO": "I5", "tipologia": "C5"},  # 5 → 1
        # Non-C5 rows keep their previous value (here a pre-set 1).
        {"DOC_PACIENTE": "P2", "DX_PRINCIPAL.1": "DX1", "FEC_SERVICIO": D(1), "INGRESO": "I6", "tipologia": "C4",
         "validacion": 1},  # 6 → 1 (untouched)
    ]
    got = flags(rule_c5(fact_df(spark, rows)))
    assert got == {0: 1, 1: 0, 2: 1, 3: 1, 4: 0, 5: 1, 6: 1}


def test_rule_c5_zeroes_prior_marks(spark):
    # A C5 row already marked 1 by an earlier rule is reset to 0 before
    # the gap fold (reference :487-488).
    rows = [
        {"DOC_PACIENTE": "P1", "DX_PRINCIPAL.1": "DX1", "FEC_SERVICIO": D(1), "INGRESO": "I1",
         "tipologia": "C5", "validacion": 1},  # 0 → 1 (zeroed, then first-row mark)
        {"DOC_PACIENTE": "P1", "DX_PRINCIPAL.1": "DX1", "FEC_SERVICIO": D(2), "INGRESO": "I2",
         "tipologia": "C5", "validacion": 1},  # 1 → 0 (zeroed, gap only 1 day)
    ]
    got = flags(rule_c5(fact_df(spark, rows)))
    assert got == {0: 1, 1: 0}


# ---------------------------------------------------------------------------
# R8 Qx1 parto/cesárea (reference :546-559)
# ---------------------------------------------------------------------------

def test_rule_qx1_rewrites_duplicates(spark):
    rows = [
        {"FACTURA": "F1", "SERVICIO": "S1", "tipologia": "Qx1", "validacion": 1},  # 0 → 1 (first)
        {"FACTURA": "F1", "SERVICIO": "S1", "tipologia": "Qx1", "validacion": 1},  # 1 → 0 (dup REWRITTEN to 0)
        {"FACTURA": "F1", "SERVICIO": "S2", "tipologia": "Qx1"},                   # 2 → 1 (new service)
        {"FACTURA": "F2", "SERVICIO": "S1", "tipologia": "Qx1"},                   # 3 → 1 (new invoice)
        {"FACTURA": "F3", "SERVICIO": "S1", "tipologia": "Qx2", "validacion": 1},  # 4 → 1 (not Qx1: untouched)
    ]
    got = flags(rule_qx1(fact_df(spark, rows)))
    assert got == {0: 1, 1: 0, 2: 1, 3: 1, 4: 1}


# ---------------------------------------------------------------------------
# Precedence: the ordered fold end-to-end (reference rule order :320-568)
# ---------------------------------------------------------------------------

def test_rule_precedence_hd_and_qx1(spark):
    CE = "CONSULTA EXTERNA"
    rows = [
        # HD duplicate pair: R2's other-H branch marks only the first,
        # then R6 forces BOTH to 1 (reference :406,410 then :473-474).
        {"FACTURA": "F1", "SERVICIO": "S1", "NOM_CENTROCOS": "CC1", "tipologia": "HD"},  # 0 → 1
        {"FACTURA": "F1", "SERVICIO": "S1", "NOM_CENTROCOS": "CC1", "tipologia": "HD"},  # 1 → 1 (R6 wins)
        # Qx1 duplicate pair, both > 0 value: R1 marks both (run of 2),
        # then R8 rewrites the duplicate to 0 (reference :546-559).
        {"FACTURA": "F2", "FEC_SERVICIO": D(1), "SERVICIO": "S9", "tipologia": "Qx1", "VALOR_TOTAL": 5},  # 2 → 1
        {"FACTURA": "F2", "FEC_SERVICIO": D(1), "SERVICIO": "S9", "tipologia": "Qx1", "VALOR_TOTAL": 5},  # 3 → 0 (R8)
        # C7 → CANT_SERVICIO regardless of ambito (reference :460-461).
        {"FACTURA": "F3", "tipologia": "C7", "CANT_SERVICIO": 5, "AMBITO": "URGENCIAS"},  # 4 → 5
        # C8 only in consulta externa (reference :465-467).
        {"FACTURA": "F4", "tipologia": "C8", "CANT_SERVICIO": 3, "AMBITO": CE},            # 5 → 3
        {"FACTURA": "F5", "tipologia": "C8", "CANT_SERVICIO": 3, "AMBITO": "URGENCIAS"},   # 6 → 0
        # ARI → 1 (reference :480-481); RM → CANT_SERVICIO (reference :562-568).
        {"FACTURA": "F6", "tipologia": "ARI"},                                             # 7 → 1
        {"FACTURA": "F7", "tipologia": "RM", "CANT_SERVICIO": 2},                          # 8 → 2
    ]
    got = flags(apply_rules(fact_df(spark, rows)))
    assert got == {0: 1, 1: 1, 2: 1, 3: 0, 4: 5, 5: 3, 6: 0, 7: 1, 8: 2}


# ---------------------------------------------------------------------------
# Enrichment chain (reference :154-271)
# ---------------------------------------------------------------------------

def _dims(spark):
    codigos = spark.createDataFrame(
        [
            ("S1", "CONSULTA", "G1"),
            ("S1", "CONSULTA", "G1"),  # duplicate dim row (deduped :159)
            ("S2", "CIRUGIA", "G2"),
        ],
        ["SERVICIO", "CONCEPTO", "GRUPO QX"],
    )
    tipologia = spark.createDataFrame(
        [
            ("S1", "CC1", "C1"),
            ("S1", "CC2", "H1"),   # composite override picks this for CC2
            ("S2", "CC1", "Qx1"),
            ("S2", "CC1", "Qx9"),  # dup composite key → keep-first wins (Qx1)
            ("S3", "CC1", "H2"),   # H1-H5-only service: general join EXCLUDES it
        ],
        ["SERVICIO", "NOM_CENTROCOS", "tipologia"],
    )
    anexos = spark.createDataFrame(
        [
            ("S1", "CONSULTA PEDIATRIA"),
            ("S1", "CONSULTA GINECOLOGIA"),
            ("S1", "MEDICINA GENERAL"),
            ("S2", "MEDICINA GENERAL"),
        ],
        ["CUPS", "TIPOLOGIA NOMBRE"],
    )
    bases = spark.createDataFrame(
        [("P1", "IPS NORTE"), ("P1", "IPS SUR"), ("P2", "IPS ESTE")],
        ["documento", "ips"],
    )
    return codigos, tipologia, anexos, bases


def _mk_fact(spark, rows):
    schema = T.StructType(
        [
            T.StructField("SERVICIO", T.StringType()),
            T.StructField("NOM_CENTROCOS", T.StringType()),
            T.StructField("GENERO", T.StringType()),
            T.StructField("EDAD", T.IntegerType()),
            T.StructField("DOC_PACIENTE", T.StringType()),
            T.StructField("FEC_SERVICIO", T.DateType()),
            T.StructField("FEC_NACIMIENTO", T.DateType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_enrich_joins_and_priority_pick(spark):
    codigos, tipologia, anexos, bases = _dims(spark)
    fact = _mk_fact(
        spark,
        [
            # child (<14): PEDIATRIA wins the priority pick
            ("S1", "CC1", "M", 5, "P1", D(10), dt.date(2019, 9, 12)),
            # adult female: GINECOLOGIA branch
            ("S1", "CC1", "F", 30, "P2", D(10), dt.date(1994, 9, 12)),
            # adult male: neither → first neutral name
            ("S1", "CC1", "M", 30, "P3", D(10), dt.date(1994, 9, 12)),
            # composite-key override: CC2 maps S1 → H1 (J4 over J3)
            ("S1", "CC2", "M", 30, "P1", D(10), dt.date(1994, 9, 12)),
            # dup composite key in dim: keep-first → Qx1 (not Qx9)
            ("S2", "CC1", "M", 30, "P1", D(10), dt.date(1994, 9, 12)),
            # H1-H5-only service: general join misses, composite hits → H2
            ("S3", "CC1", "M", 30, "P1", D(10), dt.date(1994, 9, 12)),
        ],
    )
    out = enrich(fact, codigos, tipologia, anexos, bases)
    rows = {
        (r["SERVICIO"], r["NOM_CENTROCOS"], r["GENERO"], r["EDAD"]): r
        for r in out.collect()
    }

    r_child = rows[("S1", "CC1", "M", 5)]
    assert r_child["CONCEPTO"] == "CONSULTA"
    assert r_child["tipologia"] == "C1"
    assert r_child["TIPOLOGIA NOMBRE"] == "CONSULTA PEDIATRIA"
    assert r_child["ips"] == "IPS NORTE"  # dup documento → keep-first
    # 2019-09-12 → 2024-09-10 = 1825 days; 1825 // 365 = 5
    assert r_child["EDAD 1"] == 5 and r_child["EDAD 2"] == "Años"

    r_female = rows[("S1", "CC1", "F", 30)]
    assert r_female["TIPOLOGIA NOMBRE"] == "CONSULTA GINECOLOGIA"
    assert r_female["ips"] == "IPS ESTE"

    r_male = rows[("S1", "CC1", "M", 30)]
    assert r_male["TIPOLOGIA NOMBRE"] == "MEDICINA GENERAL"
    assert r_male["ips"] is None  # P3 unmatched → feeds comprobar

    assert rows[("S1", "CC2", "M", 30)]["tipologia"] == "H1"
    assert rows[("S2", "CC1", "M", 30)]["tipologia"] == "Qx1"
    assert rows[("S3", "CC1", "M", 30)]["tipologia"] == "H2"


def _combos_pick(fact, anexos):
    """The fact-wide J5 formulation: pick per distinct (GENERO, EDAD,
    SERVICIO) of the fact, then equi-join back on all three."""
    combos = fact.select("GENERO", "EDAD", "SERVICIO").dropDuplicates()
    dim = anexos.select("CUPS", "TIPOLOGIA NOMBRE").dropDuplicates()
    tmp = combos.join(dim, combos["SERVICIO"] == dim["CUPS"], "left").drop("CUPS")
    tn = F.col("TIPOLOGIA NOMBRE")
    tmp = tmp.withColumn("TIPOLOGIA NOMBRE", F.coalesce(tn, F.lit("")))
    tmp = tmp.withColumn(
        "Contiene",
        F.when(F.upper(tn).rlike("PEDIATRIA|GINECOLOGIA"), 1).otherwise(2),
    )
    valida = (
        F.when(tn.contains("PEDIATRIA") & (F.col("EDAD") < 14), tn)
        .when(tn.contains("GINECOLOGIA") & (F.col("GENERO") == "F"), tn)
        .when(~tn.contains("PEDIATRIA") & ~tn.contains("GINECOLOGIA"), tn)
        .otherwise(F.lit(""))
    )
    tmp = keep_first(
        tmp.filter(valida != ""),
        keys=["GENERO", "EDAD", "SERVICIO"],
        order_by=[F.col("Contiene"), tn],
    ).select("GENERO", "EDAD", "SERVICIO", "TIPOLOGIA NOMBRE")
    return fact.join(tmp, on=["GENERO", "EDAD", "SERVICIO"], how="left")


def test_dim_side_typology_pick_equals_combos_pick(spark):
    """The J5 pick precomputed per (CUPS, EDAD < 14, GENERO = 'F') from
    the anexos dim must give every fact row the name the fact-wide
    (GENERO, EDAD, SERVICIO) pick gives it, NULL keys included."""
    names = {
        "SP": ["CONSULTA PEDIATRIA"],
        "SG": ["CONSULTA GINECOLOGIA"],
        "SB": ["CONSULTA PEDIATRIA", "CONSULTA GINECOLOGIA"],
        "SPG": ["PEDIATRIA Y GINECOLOGIA"],
        "SN": ["MEDICINA GENERAL", "MEDICINA GENERAL"],
        # every kind at once, plus a lower-case name: Contiene matches it
        # case-insensitively, the validity CASE does not
        "SM": ["TERAPIA", "CONSULTA PEDIATRIA", "CONSULTA GINECOLOGIA",
               "pediatria menor"],
        "SX": [None],
    }
    anexos = spark.createDataFrame(
        [(cups, n) for cups, ns in names.items() for n in ns],
        "CUPS string, `TIPOLOGIA NOMBRE` string",
    )
    grid = [
        (i, *key)
        for i, key in enumerate(
            itertools.product(
                ("F", "M", None), (None, 13, 14, 40), [*names, "UNMATCHED", None]
            )
        )
    ]
    fact = spark.createDataFrame(
        grid, "rid long, GENERO string, EDAD int, SERVICIO string"
    )
    ours = {
        r["rid"]: r["TIPOLOGIA NOMBRE"]
        for r in attach_typology_name(fact, anexos).collect()
    }
    theirs = {
        r["rid"]: r["TIPOLOGIA NOMBRE"]
        for r in _combos_pick(fact, anexos).collect()
    }
    assert len(ours) == len(grid)
    assert ours == theirs
    picked = {(g, e, s): ours[i] for i, g, e, s in grid}
    assert picked[("M", 13, "SB")] == "CONSULTA PEDIATRIA"
    assert picked[("F", 40, "SB")] == "CONSULTA GINECOLOGIA"
    assert picked[("M", 40, "SB")] is None
    assert picked[("F", None, "SN")] is None
    assert picked[("M", 40, "SM")] == "pediatria menor"
    assert picked[(None, 13, "SP")] is None


def test_enrich_edad_branches(spark):
    codigos, tipologia, anexos, bases = _dims(spark)
    fact = _mk_fact(
        spark,
        [
            ("S1", "CC1", "M", 0, "P1", D(10), dt.date(2024, 8, 31)),   # 10 days
            ("S1", "CC1", "M", 0, "P1", D(10), dt.date(2024, 7, 2)),    # 70 days → 2 months
            ("S1", "CC1", "M", 0, "P1", D(10), dt.date(2022, 9, 10)),   # 731 days → 2 years
        ],
    )
    out = enrich(fact, codigos, tipologia, anexos, bases)
    got = sorted(
        (r["EDAD 1"], r["EDAD 2"]) for r in out.select("EDAD 1", "EDAD 2").collect()
    )
    assert got == [(2, "Años"), (2, "Meses"), (10, "Días")]


def test_comprobar_name_split(spark):
    codigos, tipologia, anexos, bases = _dims(spark)
    schema = T.StructType(
        [
            T.StructField("ips", T.StringType()),
            T.StructField("DOC_PACIENTE", T.StringType()),
            T.StructField("NOMBRE_PACIENTE", T.StringType()),
        ]
    )
    fact = spark.createDataFrame(
        [
            (None, "P3", "ANA MARIA DE LOS RIOS GOMEZ"),
            (None, "P3", "ANA MARIA DE LOS RIOS GOMEZ"),  # dup patient → one row out
            (None, "P4", "CARLOS RUIZ"),
            ("IPS", "P1", "MATCHED PATIENT"),  # has ips → excluded
        ],
        schema,
    )
    out = {r["DOC_PACIENTE"]: r for r in comprobar(fact).collect()}
    assert set(out) == {"P3", "P4"}
    assert (
        out["P3"]["nombre1"],
        out["P3"]["nombre2"],
        out["P3"]["apellido1"],
        out["P3"]["apellido2"],
    ) == ("ANA", "MARIA", "DE LOS RIOS", "GOMEZ")
    assert (
        out["P4"]["nombre1"],
        out["P4"]["nombre2"],
        out["P4"]["apellido1"],
        out["P4"]["apellido2"],
    ) == ("CARLOS", "", "RUIZ", "")


# ---------------------------------------------------------------------------
# Full pipeline end-to-end (ingest filters, JS dates, month filter, casts)
# ---------------------------------------------------------------------------

def _js(day: int, month: int = 9, hh: int = 7) -> str:
    mon = {8: "Aug", 9: "Sep"}[month]
    return f"Wed {mon} {day:02d} 2024 {hh:02d}:40:00 GMT-0500 (hora estándar de Colombia)"


def test_run_pipeline_end_to_end(spark):
    codigos, tipologia, anexos, bases = _dims(spark)
    cols = [
        "SEDE_NOMBRE", "FACTURA", "FECHA_FACT", "INGRESO", "DOC_PACIENTE",
        "NOMBRE_PACIENTE", "FEC_NACIMIENTO", "GENERO", "EDAD", "SERVICIO",
        "NOM_SERVICIO_PRODUCTO", "FEC_SERVICIO", "CANT_SERVICIO", "VALOR_TOTAL",
        "COD_PLAN", "NOM_PLAN", "NOM_CENTROCOS", "COD_ENTIDAD1", "NOM_ENTIDAD1",
        "AMBITO", "DX_PRINCIPAL.0", "DX_PRINCIPAL.1",
    ]

    def row(factura, fecha_fact, servicio, cant="1", valor="10",
            nom_plan="PLAN PGP NORTE", cc="CC1"):
        return {
            "SEDE_NOMBRE": "SEDE A", "FACTURA": factura, "FECHA_FACT": fecha_fact,
            "INGRESO": "I-" + factura, "DOC_PACIENTE": "P1",
            "NOMBRE_PACIENTE": "ANA MARIA RIOS GOMEZ",
            "FEC_NACIMIENTO": _js(1, 9), "GENERO": "F", "EDAD": "30",
            "SERVICIO": servicio, "NOM_SERVICIO_PRODUCTO": "SVC",
            "FEC_SERVICIO": fecha_fact, "CANT_SERVICIO": cant,
            "VALOR_TOTAL": valor, "COD_PLAN": "PGP01", "NOM_PLAN": nom_plan,
            "NOM_CENTROCOS": cc, "COD_ENTIDAD1": "E1", "NOM_ENTIDAD1": "ENT",
            "AMBITO": "CONSULTA EXTERNA",
            "DX_PRINCIPAL.0": "A00", "DX_PRINCIPAL.1": "COLERA",
        }

    raw = [
        row("FA01", _js(10), "S1"),                          # kept
        row("SN001", _js(10), "S1"),                         # dropped: SN prefix
        row("FA02", _js(10), "S1", nom_plan="OTRO PLAN"),    # dropped: no PGP
        row("FA03", _js(12, month=8), "S1"),                 # dropped: month filter (Aug vs Sep)
        row("FA04", "not a date at all", "S1"),              # dropped: unparseable date
        row("FA05", _js(11), "S2", cant="abc", valor="xyz"), # kept; numerics coerce → 0
    ]
    fact = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in raw], schema=cols
    )
    result, check = run_pipeline(
        fact, codigos, tipologia, anexos, bases, mes=9, parse_dates=True
    )
    rows = {r["FACTURA"]: r for r in result.collect()}
    assert set(rows) == {"FA01", "FA05"}

    from etl_sendas_spark.plans.capital_sendas import OUTPUT_COLUMNS

    assert result.columns == OUTPUT_COLUMNS
    r1 = rows["FA01"]
    assert r1["FEC_SERVICIO"] == "2024/09/10"  # +5h then date then yyyy/MM/dd
    assert r1["CONCEPTO"] == "CONSULTA"
    assert r1["tipologia"] == "C1"
    # C1 + PGP plan → R3 marks the first (only) service of the patient-day
    assert r1["validacion"] == 1
    r5 = rows["FA05"]
    assert r5["CANT_SERVICIO"] == 0 and r5["tipologia"] == "Qx1"
    # Qx1 with VALOR_TOTAL coerced to 0: R1 skips it (scope needs >0),
    # but R8 still marks the first (FACTURA, SERVICIO) row → 1.
    assert r5["validacion"] == 1

    # comprobar: P1 is matched in bases (ips found) → empty side output
    assert check.count() == 0


def test_driver_query_prefilter_equals_derived_filters(spark):
    """The sendas_inputs pre-row-id filter is expressed on SOURCE
    columns (l_orderkey % 13/17, month(o_orderdate)) while the pipeline
    re-applies the same predicates on the DERIVED columns (NOM_PLAN,
    FACTURA, FECHA_FACT). ADVICE r12: if either side drifts stricter,
    rows silently vanish before downstream sees them — so assert the
    two filters keep the identical row set."""
    from pyspark.sql import functions as F

    from etl_sendas_spark.plans.capital_sendas import (
        ingest_filters,
        parse_and_filter_month,
    )
    from etl_sendas_spark.plans.sendas_driver_query import MES, sendas_inputs
    from etl_sendas_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    fact, *_dims = sendas_inputs(spark, sf)
    # derived-column filters are idempotent on the prefiltered fact:
    # applying them must drop NOTHING
    refiltered = parse_and_filter_month(
        ingest_filters(fact), MES, parse_dates=False
    )
    assert fact.count() == refiltered.count()

    # and the prefilter keeps EXACTLY the source rows whose derived
    # columns would pass: recompute the kept (orderkey, linenumber)
    # multiset from the raw join with the derived-column predicates
    li = read_table(spark, sf, "lineitem", widen=False)
    orders = read_table(spark, sf, "orders")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    factura = F.when(
        F.col("l_orderkey") % 17 == 0,
        F.concat(F.lit("SN"), F.col("l_orderkey").cast("string")),
    ).otherwise(
        F.concat(
            F.lit("FA"), F.lpad(F.col("l_orderkey").cast("string"), 10, "0")
        )
    )
    nom_plan = F.when(
        F.col("l_orderkey") % 13 == 0, F.lit("PARTICULAR")
    ).otherwise(F.lit("PLAN PGP CAPITADO"))
    derived_kept = (
        j.filter(
            nom_plan.contains("PGP")
            & ~factura.startswith("SN")
            & (F.month("o_orderdate") == MES)
        )
        .groupBy("l_orderkey", "l_linenumber")
        .count()
    )
    fact_kept = (
        fact.withColumn(
            "l_orderkey",
            F.regexp_replace("FACTURA", "^FA0*", "").cast("long"),
        )
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_fact"))
    )
    derived_by_order = derived_kept.groupBy("l_orderkey").agg(
        F.sum("count").alias("n_derived")
    )
    diff = fact_kept.join(derived_by_order, "l_orderkey", "full").filter(
        F.col("n_fact").isNull()
        | F.col("n_derived").isNull()
        | (F.col("n_fact") != F.col("n_derived"))
    )
    assert diff.count() == 0
