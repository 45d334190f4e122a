"""The capital-sendas pipeline, re-expressed as one lazy Spark plan.

Semantics derive from /root/reference/capital_sendas.py (cited per
stage below); architecture does not — the reference is an eager
pandas script that mutates one in-memory table by row identity, while
this is a composable chain of DataFrame transforms threaded on a
synthetic row id (SURVEY.md §1.4), with all dimension joins broadcast
and every order-sensitive dedup given an explicit tiebreak.

Faithfully reproduced code-vs-spec deviations (SURVEY.md §7):
- the H1–H5 override join uses the UNFILTERED typology dim
  (capital_sendas.py:191, despite :186 building a filtered one);
- the invoice prefix filter is ``'SN'`` (code, :111), not the
  comment's "NS";
- the month filter matches month-of-year only, not year+month (:142).

Scale notes: the fact table is the only big input — every dim join is
a broadcast; the rule engine shuffles only on its group keys
(invoice, patient); nothing collects to the driver; the one Python
stage is the R7 grouped-map fold and the comprobar name splitter, both
Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.dates import parse_js_timestamp, edad_valor, edad_unidad, date_to_text
from ..functions.strings import split_full_name
from ..operators.marking import capped_group_mark, gap_anchor_mark
from ..operators.relational import (
    first_flag,
    invoices_containing,
    keep_first,
    update_by_row_id,
)
from ..sources.readers import ROW_ID, with_row_id

H1_H5 = ["H1", "H2", "H3", "H4", "H5"]

FACT_COLUMNS = [
    "SEDE_NOMBRE", "FACTURA", "FECHA_FACT", "INGRESO", "DOC_PACIENTE",
    "NOMBRE_PACIENTE", "FEC_NACIMIENTO", "GENERO", "EDAD", "SERVICIO",
    "NOM_SERVICIO_PRODUCTO", "FEC_SERVICIO", "CANT_SERVICIO", "VALOR_TOTAL",
    "COD_PLAN", "NOM_PLAN", "NOM_CENTROCOS", "COD_ENTIDAD1", "NOM_ENTIDAD1",
    "AMBITO", "DX_PRINCIPAL.0", "DX_PRINCIPAL.1",
]

# final published projection (capital_sendas.py:588-596)
OUTPUT_COLUMNS = [
    "SEDE_NOMBRE", "FACTURA", "FECHA_FACT", "INGRESO", "GENERO", "SERVICIO",
    "NOM_SERVICIO_PRODUCTO", "FEC_SERVICIO", "CANT_SERVICIO", "COD_PLAN",
    "NOM_PLAN", "COD_ENTIDAD1", "NOM_ENTIDAD1", "AMBITO", "DX_PRINCIPAL.0",
    "DX_PRINCIPAL.1", "CONCEPTO", "GRUPO QX", "EDAD 1", "EDAD 2", "tipologia",
    "TIPOLOGIA NOMBRE", "ips", "validacion",
]


def _nz(col: str) -> Column:
    """Null-as-empty-string, the reference's ``fillna('')`` predicate idiom."""
    return F.coalesce(F.col(col), F.lit(""))


def ingest_filters(fact: DataFrame) -> DataFrame:
    """Per-file ingest predicates (capital_sendas.py:109-111): keep
    PGP plans, drop 'SN'-prefixed invoices. Applied before any join so
    Catalyst pushes them into the scan."""
    return fact.filter(
        _nz("NOM_PLAN").contains("PGP") & ~_nz("FACTURA").startswith("SN")
    )


def parse_and_filter_month(fact: DataFrame, mes: int, parse_dates: bool = True) -> DataFrame:
    """Date parsing + month filter + numeric casts (capital_sendas.py:136-152)."""
    if parse_dates:
        for c in ("FEC_NACIMIENTO", "FEC_SERVICIO", "FECHA_FACT"):
            fact = fact.withColumn(c, parse_js_timestamp(F.col(c)))
    fact = fact.filter(F.month("FECHA_FACT") == F.lit(mes))
    for c in ("FEC_NACIMIENTO", "FEC_SERVICIO", "FECHA_FACT"):
        fact = fact.withColumn(c, F.to_date(c))
    # try_cast = pandas to_numeric(errors='coerce'): malformed → null
    # (plain cast would THROW under ANSI mode, Spark 4's default)
    fact = fact.withColumn("EDAD", F.col("EDAD").try_cast("int"))
    for c in ("CANT_SERVICIO", "VALOR_TOTAL"):
        fact = fact.withColumn(
            c, F.coalesce(F.col(c).try_cast("double").try_cast("int"), F.lit(0))
        )
    return fact


def _typology_name_pick(anexos: DataFrame) -> DataFrame:
    """The J5/F1 typology-name pick (capital_sendas.py:203-263) for every
    CUPS and each of the four (``EDAD < 14``, ``GENERO = 'F'``) flag
    combinations: columns ``CUPS``, ``__ped``, ``__gin``,
    ``TIPOLOGIA NOMBRE``.

    The reference picks per distinct (GENERO, EDAD, SERVICIO) of the
    fact, but the pick reads EDAD and GENERO only through those two
    flags, so it is a function of (SERVICIO, flag, flag) and can be
    precomputed from the dim without reading the fact. A combination
    with no valid name has no row, which a left join turns into NULL,
    as the reference's filtered-out groups do.
    """
    flags = F.inline(
        F.array(
            *[
                F.struct(F.lit(ped).alias("__ped"), F.lit(gin).alias("__gin"))
                for ped in (True, False)
                for gin in (True, False)
            ]
        )
    )
    tmp = (
        anexos.select("CUPS", "TIPOLOGIA NOMBRE")
        .dropDuplicates()
        .select("CUPS", _nz("TIPOLOGIA NOMBRE").alias("TIPOLOGIA NOMBRE"), flags)
    )
    tn = F.col("TIPOLOGIA NOMBRE")
    contiene = F.when(
        F.upper(tn).rlike("PEDIATRIA|GINECOLOGIA"), F.lit(1)
    ).otherwise(F.lit(2))
    # asignar_tipologia (:224-250) as a CASE chain — note the reference
    # matches PEDIATRIA/GINECOLOGIA case-SENSITIVELY here (Python `in`),
    # unlike the Contiene flag above (case=False), so we mirror both.
    valida = (
        F.when(tn.contains("PEDIATRIA") & F.col("__ped"), tn)
        .when(tn.contains("GINECOLOGIA") & F.col("__gin"), tn)
        .when(~tn.contains("PEDIATRIA") & ~tn.contains("GINECOLOGIA"), tn)
        .otherwise(F.lit(""))
    )
    tmp = tmp.filter(valida != "").withColumn("Contiene", contiene)
    # groupby(...).first() on the (SERVICIO, GENERO, EDAD, Contiene)
    # sort (:215,:257) → keep-first with (Contiene, name) tiebreak; the
    # name tiebreak makes ties deterministic where pandas' unstable
    # sort is not.
    return keep_first(
        tmp,
        keys=["CUPS", "__ped", "__gin"],
        order_by=[F.col("Contiene"), tn],
    ).select("CUPS", "__ped", "__gin", "TIPOLOGIA NOMBRE")


def attach_typology_name(fact: DataFrame, anexos: DataFrame) -> DataFrame:
    """J5/J6: left-join the :func:`_typology_name_pick` broadcast onto the
    fact on SERVICIO and the two flags the pick reads. A NULL EDAD or
    GENERO makes its flag NULL, so the row matches no pick, as the
    reference's (GENERO, EDAD, SERVICIO) equi-join does."""
    pick = _typology_name_pick(anexos)
    return fact.join(
        F.broadcast(pick),
        (F.col("SERVICIO") == F.col("CUPS"))
        & ((F.col("EDAD") < 14) == F.col("__ped"))
        & ((F.col("GENERO") == "F") == F.col("__gin")),
        "left",
    ).drop("CUPS", "__ped", "__gin")


def enrich(
    fact: DataFrame,
    codigos: DataFrame,
    tipologia: DataFrame,
    anexos: DataFrame,
    bases: DataFrame,
) -> DataFrame:
    """The J2→J7 enrichment chain (capital_sendas.py:154-271).

    Every dimension is deduplicated exactly as the reference does (on
    full rows or keep-first with the dim's own row order as tiebreak)
    and broadcast. The fact is read ONCE and never shuffles here: the
    J5 pick comes from the anexos dim alone (:func:`attach_typology_name`).
    """
    if ROW_ID not in fact.columns:
        fact = with_row_id(fact)

    # J2 — service codes dim (:157-160): full-row distinct, left join.
    dim_codes = codigos.select("SERVICIO", "CONCEPTO", "GRUPO QX").dropDuplicates()
    fact = fact.join(F.broadcast(dim_codes), on="SERVICIO", how="left")

    # EDAD 1 / EDAD 2 derived ages (:165-168) — pure CASE chains.
    fact = fact.withColumn("EDAD 1", edad_valor("FEC_SERVICIO", "FEC_NACIMIENTO"))
    fact = fact.withColumn("EDAD 2", edad_unidad("FEC_SERVICIO", "FEC_NACIMIENTO"))

    # J3 — general typology (:174-180): exclude H1–H5, keep-first per
    # SERVICIO in dim order (explicit row-id tiebreak replaces pandas'
    # silent positional keep='first'). A caller that needs fully
    # deterministic keep-first across runs should pre-assign ROW_ID on
    # the dim (file/row order); otherwise we take the scan order.
    if ROW_ID in tipologia.columns:
        tip = tipologia.withColumnRenamed(ROW_ID, "__dim_id")
    else:
        tip = with_row_id(tipologia).withColumnRenamed(ROW_ID, "__dim_id")
    tip_general = keep_first(
        tip.filter(~F.col("tipologia").isin(H1_H5)).select(
            "SERVICIO", "tipologia", "__dim_id"
        ),
        keys=["SERVICIO"],
        order_by=["__dim_id"],
    ).drop("__dim_id")
    fact = fact.join(F.broadcast(tip_general), on="SERVICIO", how="left")

    # J4 — composite-key override (:186-198). NOTE: the reference
    # builds an H1–H5-filtered frame but then joins the UNFILTERED dim
    # (:191) — we reproduce the code, not the comment.
    tip_override = keep_first(
        tip.select("SERVICIO", "NOM_CENTROCOS", "tipologia", "__dim_id"),
        keys=["SERVICIO", "NOM_CENTROCOS"],
        order_by=["__dim_id"],
    ).drop("__dim_id").withColumnRenamed("tipologia", "tipologia_temp")
    fact = fact.join(
        F.broadcast(tip_override), on=["SERVICIO", "NOM_CENTROCOS"], how="left"
    )
    fact = fact.withColumn(
        "tipologia", F.coalesce("tipologia_temp", "tipologia")
    ).drop("tipologia_temp")

    # J5/F1/D2/J6 — typology-name priority pick (:203-263).
    fact = attach_typology_name(fact, anexos)

    # J7 — affiliation dim (:268-271): keep-first per documento.
    if ROW_ID in bases.columns:
        base_dim = bases.select("documento", "ips", ROW_ID).withColumnRenamed(
            ROW_ID, "__dim_id"
        )
    else:
        base_dim = with_row_id(bases.select("documento", "ips")).withColumnRenamed(
            ROW_ID, "__dim_id"
        )
    base_dim = keep_first(base_dim, keys=["documento"], order_by=["__dim_id"]).drop(
        "__dim_id"
    )
    fact = fact.join(
        F.broadcast(base_dim),
        fact["DOC_PACIENTE"] == base_dim["documento"],
        "left",
    ).drop("documento")

    return fact.withColumn("validacion", F.lit(0))


# --------------------------------------------------------------------------
# rule engine — ordered fold, later rules override earlier marks
# --------------------------------------------------------------------------

def _qx_marks(fact: DataFrame) -> DataFrame:
    """R1 mark set: every scope row with its 0/1 flag."""
    scope = fact.filter(
        _nz("tipologia").startswith("Qx") & (F.col("VALOR_TOTAL") > 0)
    ).select(ROW_ID, "FACTURA", "FEC_SERVICIO", "tipologia")
    return capped_group_mark(
        scope,
        group_keys=["FACTURA", "FEC_SERVICIO"],
        run_col="tipologia",
        walk_order=[F.col("tipologia").desc(), F.col(ROW_ID)],
        per_run_cap=2,
        total_cap=3,
    ).select(ROW_ID, "validacion")


def _egreso_marks(fact: DataFrame) -> DataFrame:
    """R2 mark set: kept first-rows only, flag 1."""
    scope = fact.filter(_nz("tipologia").startswith("H")).select(
        ROW_ID, "FACTURA", "SERVICIO", "NOM_CENTROCOS", "tipologia"
    )
    h15 = keep_first(
        scope.filter(F.col("tipologia").isin(H1_H5)),
        keys=["FACTURA", "SERVICIO", "NOM_CENTROCOS"],
    )
    rest = keep_first(
        scope.filter(~F.col("tipologia").isin(H1_H5)),
        keys=["FACTURA", "SERVICIO"],
    )
    return h15.unionByName(rest).select(ROW_ID, F.lit(1).alias("validacion"))


def _c1_marks(fact: DataFrame) -> DataFrame:
    """R3 mark set: first service per patient-day, flag 1."""
    scope = fact.filter(
        (F.col("tipologia") == "C1") & _nz("COD_PLAN").startswith("PGP")
    ).select(ROW_ID, "DOC_PACIENTE", "FEC_SERVICIO")
    return keep_first(scope, keys=["DOC_PACIENTE", "FEC_SERVICIO"]).select(
        ROW_ID, F.lit(1).alias("validacion")
    )


def rule_qx(fact: DataFrame) -> DataFrame:
    """R1 Quirófano (:326-380): within (FACTURA, FEC_SERVICIO), walking
    tipologia descending, mark ≤2 per tipologia run and ≤3 total."""
    return update_by_row_id(fact, _qx_marks(fact), "validacion")


def rule_egreso(fact: DataFrame) -> DataFrame:
    """R2 Egreso (:383-410): first row per key → 1; H1–H5 key includes
    NOM_CENTROCOS, other H* does not. Only kept rows are written."""
    return update_by_row_id(fact, _egreso_marks(fact), "validacion")


def rule_c1(fact: DataFrame) -> DataFrame:
    """R3 Ambulatorio C1 (:415-429): first service per patient-day → 1."""
    return update_by_row_id(fact, _c1_marks(fact), "validacion")


SERVICIOS_A_INVALIDAR = ["890285", "890385", "890384", "890284", "890502"]


def rule_c4(fact: DataFrame) -> DataFrame:
    """R4 Ambulatorio C4 (:431-456): CASE chain + invoice-membership
    zeroing; the 132P01 flag is a window over FACTURA (no self-join,
    no driver round-trip — replaces the reference's unique()+isin)."""
    has_132 = invoices_containing(fact, "FACTURA", "SERVICIO", "132P01")
    base = (F.col("AMBITO") == "CONSULTA EXTERNA") & (F.col("tipologia") == "C4")
    return fact.withColumn(
        "validacion",
        F.when(base & has_132 & F.col("SERVICIO").isin(SERVICIOS_A_INVALIDAR), F.lit(0))
        .when(base & (F.col("SERVICIO") == "890502"), F.col("CANT_SERVICIO"))
        .when(base & (F.col("SERVICIO") != "890502"), F.lit(1))
        .otherwise(F.col("validacion")),
    )


def rule_c7_c8(fact: DataFrame) -> DataFrame:
    """R5 (:458-467): C7 → CANT_SERVICIO; C8 in consulta externa → CANT_SERVICIO."""
    return fact.withColumn(
        "validacion",
        F.when(F.col("tipologia") == "C7", F.col("CANT_SERVICIO"))
        .when(
            (F.col("tipologia") == "C8") & (F.col("AMBITO") == "CONSULTA EXTERNA"),
            F.col("CANT_SERVICIO"),
        )
        .otherwise(F.col("validacion")),
    )


def rule_hd_ari(fact: DataFrame) -> DataFrame:
    """R6 (:470-481): HD → 1, ARI → 1."""
    return fact.withColumn(
        "validacion",
        F.when(F.col("tipologia").isin("HD", "ARI"), F.lit(1)).otherwise(
            F.col("validacion")
        ),
    )


def _c5_marks(fact: DataFrame) -> DataFrame:
    """R7 mark set: INGRESO-deduped C5 rows with the gap-fold 0/1 flag."""
    scope = fact.filter(F.col("tipologia") == "C5").select(
        ROW_ID,
        "INGRESO",
        "DOC_PACIENTE",
        F.col("`DX_PRINCIPAL.1`").alias("__dx"),
        "FEC_SERVICIO",
    )
    scope = keep_first(
        scope,
        keys=["INGRESO"],
        order_by=["DOC_PACIENTE", "__dx", "FEC_SERVICIO", ROW_ID],
    )
    return gap_anchor_mark(
        scope,
        group_keys=["DOC_PACIENTE", "__dx"],
        ts_col="FEC_SERVICIO",
        order_by=["FEC_SERVICIO", ROW_ID],
        gap_days=3,
    ).select(ROW_ID, "validacion")


def _qx1_marks(fact: DataFrame) -> DataFrame:
    """R8 mark set: every Qx1 scope row, 1 for the first per
    (FACTURA, SERVICIO), 0 for the rest."""
    scope = fact.filter(F.col("tipologia") == "Qx1").select(
        ROW_ID, "FACTURA", "SERVICIO"
    )
    return first_flag(scope, keys=["FACTURA", "SERVICIO"]).select(
        ROW_ID, "validacion"
    )


def _c4_zero_marks(fact: DataFrame) -> DataFrame:
    """R4's invoice-membership zeroing as a mark set (r13, guide §2.4):
    rows in the C4 consulta-externa scope whose SERVICIO is in the
    invalidation list AND whose invoice contains a 132P01 row get 0.

    Replaces the ``invoices_containing`` window inside the one-pass
    engine's final CASE — that window forced the full-width post-join
    frame through an Exchange(FACTURA) + sort just to attach a boolean
    consumed by a single branch. Here both join sides are NARROW (the
    scoped row ids + the invoices of the 132P01 rows), and the wide frame
    crosses no extra exchange. C4 scope is disjoint from every other
    mark set's scope (Qx*/H*/C1/C5/Qx1), so the rank-4 mark can never
    shadow or be shadowed within a row — semantics identical to the
    window branch (oracle-audited)."""
    # no distinct: a semi join never duplicates, and a distinct on
    # FACTURA would need its own exchange below the null-safe join's
    has132 = fact.filter(F.col("SERVICIO") == "132P01").select(
        F.col("FACTURA").alias("__inv")
    )
    scope = fact.filter(
        (F.col("AMBITO") == "CONSULTA EXTERNA")
        & (F.col("tipologia") == "C4")
        & F.col("SERVICIO").isin(SERVICIOS_A_INVALIDAR)
    ).select(ROW_ID, "FACTURA")
    # null-safe: the window groups NULL invoices together, so a NULL
    # invoice holding a 132P01 row zeroes its other NULL-invoice rows
    return scope.join(
        has132, F.col("FACTURA").eqNullSafe(F.col("__inv")), "left_semi"
    ).select(ROW_ID, F.lit(0).alias("validacion"))


def rule_c5(fact: DataFrame) -> DataFrame:
    """R7 Consultorio urgencias (:484-543): zero all C5, dedup on
    INGRESO in (patient, dx, date) order, then the anchor-reset >3-day
    gap fold per (patient, dx) — the engine's one grouped-map stage."""
    marks = _c5_marks(fact)
    fact = fact.withColumn(
        "validacion",
        F.when(F.col("tipologia") == "C5", F.lit(0)).otherwise(F.col("validacion")),
    )
    return update_by_row_id(fact, marks, "validacion")


def rule_qx1(fact: DataFrame) -> DataFrame:
    """R8 Parto/cesárea (:546-559): first (FACTURA, SERVICIO) row → 1,
    the REST of the Qx1 scope → 0 (this rule overwrites R1 marks)."""
    return update_by_row_id(fact, _qx1_marks(fact), "validacion")


def rule_rm(fact: DataFrame) -> DataFrame:
    """R9 Resonancia (:562-568): RM → CANT_SERVICIO."""
    return fact.withColumn(
        "validacion",
        F.when(F.col("tipologia") == "RM", F.col("CANT_SERVICIO")).otherwise(
            F.col("validacion")
        ),
    )


RULES = [
    rule_qx,
    rule_egreso,
    rule_c1,
    rule_c4,
    rule_c7_c8,
    rule_hd_ari,
    rule_c5,
    rule_qx1,
    rule_rm,
]


def apply_rules_sequential(fact: DataFrame) -> DataFrame:
    """The literal ordered fold — each rule overwrites its scope in
    turn. Reference semantics made explicit, and what the unit tests
    exercise per-rule; but every ``update_by_row_id`` embeds ``fact``'s
    lineage twice, so the composed plan grows exponentially with the
    number of join-based rules. Use :func:`apply_rules` in pipelines.
    """
    for rule in RULES:
        fact = rule(fact)
    return fact


# fold position of each join-based rule's mark set — later overwrites
# earlier, so precedence is "highest rank wins", resolved together
# with the pure-expression rules in one CASE below
_RANKED_MARKS = [
    (1, _qx_marks),  # R1
    (2, _egreso_marks),  # R2
    (3, _c1_marks),  # R3
    (4, _c4_zero_marks),  # R4 invoice-membership zeroing (r13)
    (7, _c5_marks),  # R7
    (8, _qx1_marks),  # R8
]


def apply_rules(fact: DataFrame) -> DataFrame:
    """Single-pass rule engine, same semantics as the sequential fold.

    Every join-based rule's mark set is computed independently from the
    SAME enriched frame (no rule reads another's ``validacion`` — they
    only overwrite by fold position), unioned with its fold rank, and
    reduced to the highest-ranked mark per row; the pure-expression
    rules (R4/R5/R6/R9) interleave at their fold positions inside one
    CASE. R4's invoice zeroing is a mark set too (``_c4_zero_marks``, a
    semi-join of narrow row ids against the 132P01 invoices). Physical
    shape: one shuffle for the (small, scoped) mark union and ONE
    row-id join against the fact — versus the sequential fold's five
    full-fact joins and 2^5 lineage copies.

    Each mark set and the main pass read ``fact`` in separate branches
    and meet again on the row id, so its ids must be the same on every
    execution of the frame: key-derived (``sendas_inputs``), positional
    over a fixed file layout (``load_fact_files``), or read from a pin.
    :func:`run_pipeline` passes its ``enriched_stage`` pin, which is
    the faster plan: recomputing the enrichment per consumer measured
    slower in r12 (interleaved A/B at sf0.1: pinned 5.95 s vs
    recompute 6.75 s min-of-4).
    """
    marks = None
    for rank, mk in _RANKED_MARKS:
        m = mk(fact).select(
            F.col(ROW_ID),
            F.lit(rank).alias("__mark_rank"),
            F.col("validacion").cast("int").alias("__mark_v"),
        )
        marks = m if marks is None else marks.unionByName(m)
    # each rule emits ≤1 mark per row id, ranks are distinct → max_by
    # is deterministic
    best = marks.groupBy(ROW_ID).agg(
        F.max_by("__mark_v", "__mark_rank").alias("__mark_v"),
        F.max("__mark_rank").alias("__mark_rank"),
    )
    # SHUFFLE_HASH hint (r13, guide §3.1): both sides are O(fact) so
    # broadcast is unsafe, but the build side (the aggregated marks —
    # 3 narrow columns) is far lighter per partition than the wide
    # enriched fact, which a SortMergeJoin would SORT in full after its
    # exchange. The hint keeps the exchange and drops both sorts; the
    # build side's hash table holds only scoped-row marks.
    out = fact.join(best.hint("shuffle_hash"), on=ROW_ID, how="left")

    base4 = (F.col("AMBITO") == "CONSULTA EXTERNA") & (F.col("tipologia") == "C4")
    cant = F.col("CANT_SERVICIO")
    rank = F.col("__mark_rank")
    v = (
        # R9 Resonancia
        F.when(F.col("tipologia") == "RM", cant)
        # R8 parto/cesárea — covers ALL Qx1 rows, overwriting R1
        .when(rank == 8, F.col("__mark_v"))
        # R7 gap-fold marks on INGRESO-kept rows …
        .when(rank == 7, F.col("__mark_v"))
        # … and the zeroing of every other C5 row
        .when(F.col("tipologia") == "C5", F.lit(0))
        # R6 HD / ARI
        .when(F.col("tipologia").isin("HD", "ARI"), F.lit(1))
        # R5 C7 / C8
        .when(F.col("tipologia") == "C7", cant)
        .when(
            (F.col("tipologia") == "C8") & (F.col("AMBITO") == "CONSULTA EXTERNA"),
            cant,
        )
        # R4 C4 chain (132P01-invoice zeroing first — it wins within
        # R4; rank 4 ⇔ the row is in the zeroing scope AND its invoice
        # has a 132P01 row — see _c4_zero_marks)
        .when(rank == 4, F.lit(0))
        .when(base4 & (F.col("SERVICIO") == "890502"), cant)
        .when(base4 & (F.col("SERVICIO") != "890502"), F.lit(1))
        # R3 / R2 membership marks (always 1)
        .when(rank == 3, F.lit(1))
        .when(rank == 2, F.lit(1))
        # R1 capped marks (0 or 1 — scope rows are written either way)
        .when(rank == 1, F.col("__mark_v"))
        .otherwise(F.col("validacion"))
    )
    return out.withColumn("validacion", v).drop("__mark_rank", "__mark_v")


def comprobar(fact: DataFrame) -> DataFrame:
    """The unmatched-patients side output (:274-318): patients with no
    affiliation, name split into 4 parts by the F2 pandas UDF."""
    base = (
        fact.filter(F.col("ips").isNull())
        .select("DOC_PACIENTE", "NOMBRE_PACIENTE")
        .dropDuplicates()
    )
    parts = base.withColumn("__p", split_full_name("NOMBRE_PACIENTE"))
    return parts.select(
        "DOC_PACIENTE",
        F.col("__p.nombre1").alias("nombre1"),
        F.col("__p.nombre2").alias("nombre2"),
        F.col("__p.apellido1").alias("apellido1"),
        F.col("__p.apellido2").alias("apellido2"),
    )


def finalize(fact: DataFrame) -> DataFrame:
    """Stringify dates and project the published schema (:575-596)."""
    fact = fact.withColumn("FECHA_FACT", date_to_text("FECHA_FACT"))
    fact = fact.withColumn("FEC_SERVICIO", date_to_text("FEC_SERVICIO"))
    # backtick-quote so dotted names (DX_PRINCIPAL.0/.1 — pandas' dedup
    # suffixing in the reference, SURVEY.md §1.1) resolve as flat columns
    return fact.select(*[F.col(f"`{c}`") for c in OUTPUT_COLUMNS])


def run_pipeline(
    fact: DataFrame,
    codigos: DataFrame,
    tipologia: DataFrame,
    anexos: DataFrame,
    bases: DataFrame,
    mes: int,
    parse_dates: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Full DAG: ingest filters → parse/cast → enrich → rules → project.
    Returns (capital_sendas, comprobar).

    Execution is driven by :data:`.lineage.STAGES` — the importable
    mirror of the reference's own metadata graph
    (``grafo_sendas.html:586``), so every named stage here traces to
    the graph nodes it realizes (tables, Condicion_*, Regla_*,
    Calculo_*). See :mod:`etl_sendas_spark.plans.lineage`.

    The ENRICHED frame is pinned as one stage table (``enriched_stage``)
    before the rule engine, which reads it from 6 mark sets, the main
    pass and comprobar: the pin computes the enrichment once instead of
    per consumer. Enrichment reads the fact once (all dims broadcast),
    so no separate fact pin is needed below it. What pins is the
    month-scoped batch plus the enrichment columns, not the raw input —
    the stage table the reference itself writes between phases
    (``capital_sendas.py:600``).

    The pin is a speed choice, not a correctness one: the fact's row
    ids are the same on every execution, so the result does not depend
    on the strategy. It comes from the ``spark.etl_sendas.materialize``
    conf (:mod:`..materialize`; default ``local`` = ``localCheckpoint``,
    fastest but not fault-tolerant). Set ``reliable`` or ``parquet`` on
    a cluster so a lost executor can't kill the run, or ``none`` to keep
    the whole DAG lazy.
    """
    from ..materialize import materialize as _pin
    from .lineage import STAGES

    impls = {
        "ingest_filters": ingest_filters,
        "parse_and_filter_month": lambda df: parse_and_filter_month(
            df, mes, parse_dates=parse_dates
        ),
        "enrich": lambda df: enrich(df, codigos, tipologia, anexos, bases),
        "apply_rules": apply_rules,
        "finalize": finalize,
    }
    for stage in STAGES:
        if stage.name == "apply_rules":
            fact = _pin(fact, name="enriched_stage")
        if stage.name == "finalize":
            return impls[stage.name](fact), comprobar(fact)
        fact = impls[stage.name](fact)
    raise RuntimeError("lineage.STAGES must end with the finalize stage")
