"""The ENTIRE capital-sendas pipeline as one oracle-checked driver query.

``sendas_inputs`` maps the driver's TPC-H-ish tables into sendas-shaped
fact + dimension frames with fully deterministic derivations (every
expression exists identically in Spark and DuckDB — floors instead of
double→int casts, explicit lpad/concat, list indexing). The fact row id
is ``l_orderkey << 16 | l_linenumber << 8 | rank``, with ``rank`` the
row number within the key pair over the other lineitem columns: it
sorts exactly like the oracle's ``ROW_NUMBER()`` over all 11 columns,
so every order-sensitive dedup and walk in the rule engine ties
identically in both engines.

``SENDAS_FULL_SQL`` is the DuckDB mirror of the whole DAG — ingest
filters, month filter, J2–J7 enrichment incl. the F1 priority pick,
and rules R1–R9 folded as a reverse-order (last-writer-wins) CASE with
the R1 staged windows and the R7 recursive-CTE gap walk.

Reference lineage: /root/reference/capital_sendas.py:96-596 (semantics
only; see plans/capital_sendas.py for the per-stage citations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from ..sources.readers import ROW_ID, local_relation, read_table
from .capital_sendas import run_pipeline

TIPS = ["C1", "C4", "C5", "C7", "C8", "H1", "H2", "H9", "HD", "ARI",
        "Qx1", "Qx2", "Qx3", "RM"]
NAMES = ["CONSULTA PEDIATRIA", "CONSULTA GINECOLOGIA", "MEDICINA GENERAL",
         "PEDIATRIA INTEGRAL", "GINECOLOGIA ONCOLOGICA", "TERAPIA FISICA"]
SPECIAL = ["890502", "132P01", "890285", "890385", "890384", "890284"]
MES = 3


_LOCAL_DIM_READ_CAP = 256 * 1024 * 1024  # driver-side read only below this


def _string_schema(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


def _part_keys(spark: SparkSession, sf_dir: str) -> list[int]:
    """sorted(DISTINCT p_partkey % 200) — pyarrow fast path for small
    local files, Spark job otherwise. Both paths compute the identical
    key universe (the oracle's `keys` CTE). The Spark path alone reads
    ``part`` through Spark, so the fast path also skips that read's
    schema-inference job."""
    import os

    path = os.path.join(sf_dir, "part.parquet")
    try:
        if os.path.isfile(path) and os.path.getsize(path) <= _LOCAL_DIM_READ_CAP:
            import pyarrow.parquet as pq

            col = pq.read_table(path, columns=["p_partkey"])["p_partkey"]
            # sign-of-DIVIDEND remainder, matching Spark/DuckDB `%`
            # (Python's % is sign-of-divisor: -7 % 200 = 193 there but
            # -7 in both engines — ADVICE r12; synthetic keys are
            # positive today, this keeps the two paths equal if that
            # ever changes)
            return sorted(
                {
                    (abs(int(v)) % 200) * (1 if int(v) >= 0 else -1)
                    for v in col.to_pylist()
                }
            )
    except Exception:  # noqa: BLE001 — any local-read trouble → cluster path
        pass
    part = read_table(spark, sf_dir, "part")
    return sorted(
        r["k"]
        for r in part.select((F.col("p_partkey") % 200).alias("k"))
        .distinct()
        .collect()
    )


def sendas_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """(fact, codigos, tipologia, anexos, bases) for :func:`run_pipeline`.

    ``fact`` is lazy and month-scoped. Its row id is derived from the
    lineitem key (see below), so it is the same on every execution:
    ``run_pipeline`` gives the same result pinned or lazy. A key outside
    the id's bit budget fails the query. ``codigos``, ``tipologia`` and
    ``anexos`` are driver-built Arrow local relations
    (``LocalTableScan``); ``bases`` is a pruned scan of ``customer``.
    """
    # widen=False: the row-id window hash-partitions the fact right
    # away, so the fact-scan widening exchange would be pure waste
    li = read_table(spark, sf_dir, "lineitem", widen=False)
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")

    # The row id sorts like the oracle's ROW_NUMBER() over all 11
    # lineitem columns, without a global numbering: (orderkey,
    # linenumber) repeats up to 6 times in the driver's lineitem, so a
    # row_number within each pair, ordered by the other 9 columns,
    # breaks the ties, packed as ``l_orderkey << 16 | l_linenumber << 8
    # | rank``. A hash window gives each row the same id on every
    # execution and partition count. Rows equal in all 11 columns may
    # swap ranks; they yield identical fact rows, so no output can tell.
    #
    # Ingest + month predicates run first, on the SOURCE columns
    # (NOM_PLAN contains 'PGP' ⇔ l_orderkey % 13 ≠ 0; FACTURA starts
    # 'SN' ⇔ l_orderkey % 17 = 0; FECHA_FACT = o_orderdate), so the
    # row-id shuffle carries only the ~8 % of rows the pipeline keeps
    # (optimization guide §2.3/§2.4). They keep or drop whole orders, so
    # no kept row's rank changes. The downstream ingest_filters/
    # parse_and_filter_month re-apply them — idempotent on kept rows.
    li_cols = [
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    ]
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).filter(
        (F.col("l_orderkey") % 13 != 0)
        & (F.col("l_orderkey") % 17 != 0)
        & (F.month("o_orderdate") == MES)
    )
    # nulls last: the oracle's (DuckDB's) default ascending order
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        *[F.col(c).asc_nulls_last() for c in li_cols[2:]]
    )
    j = j.withColumn("__rank", F.row_number().over(w))
    ok, ck = F.col("l_orderkey").cast("long"), F.col("o_custkey")
    ln, rank = F.col("l_linenumber").cast("long"), F.col("__rank")
    rid = F.when(
        ok.between(0, (1 << 47) - 1) & ln.between(0, 255) & (rank < 256),
        F.shiftleft(ok, 16).bitwiseOR(F.shiftleft(ln, 8)).bitwiseOR(rank),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "sendas_inputs: (l_orderkey, l_linenumber, rank) = (%s, %s, %s)"
                " is outside the row id's bit budget (2^47, 2^8, 2^8)",
                ok, ln, rank,
            )
        )
    )
    pk, sk = F.col("l_partkey"), F.col("l_suppkey")
    factura = (
        F.when(ok % 17 == 0, F.concat(F.lit("SN"), ok.cast("string")))
        .otherwise(F.concat(F.lit("FA"), F.lpad(ok.cast("string"), 10, "0")))
    )
    svc = (
        F.when(pk % 29 == 0, F.lit("890502"))
        .when(pk % 29 == 1, F.lit("132P01"))
        .when(pk % 29 == 2, F.lit("890285"))
        .when(pk % 29 == 3, F.lit("890385"))
        .when(pk % 29 == 4, F.lit("890384"))
        .when(pk % 29 == 5, F.lit("890284"))
        .otherwise((pk % 200).cast("string"))
    )
    fact = j.select(
        rid.alias(ROW_ID),
        F.lit("SEDE A").alias("SEDE_NOMBRE"),
        factura.alias("FACTURA"),
        F.col("o_orderdate").alias("FECHA_FACT"),
        F.concat(factura, F.lit("-"), (F.col("l_linenumber") % 3).cast("string")).alias("INGRESO"),
        ck.cast("string").alias("DOC_PACIENTE"),
        F.lit("ANA MARIA DE LOS RIOS GOMEZ").alias("NOMBRE_PACIENTE"),
        F.date_sub(F.to_date("l_shipdate"), (ck % 5000).cast("int")).alias("FEC_NACIMIENTO"),
        F.when(ck % 2 == 0, F.lit("F")).otherwise(F.lit("M")).alias("GENERO"),
        (ck % 90).cast("int").alias("EDAD"),
        svc.alias("SERVICIO"),
        F.lit("SVC").alias("NOM_SERVICIO_PRODUCTO"),
        F.col("l_shipdate").alias("FEC_SERVICIO"),
        F.floor("l_quantity").cast("int").alias("CANT_SERVICIO"),
        F.when(pk % 11 == 0, F.lit(0)).otherwise(F.floor("l_extendedprice")).cast("int").alias("VALOR_TOTAL"),
        F.when(ck % 5 == 0, F.lit("OTRO")).otherwise(F.lit("PGP01")).alias("COD_PLAN"),
        F.when(ok % 13 == 0, F.lit("PARTICULAR")).otherwise(F.lit("PLAN PGP CAPITADO")).alias("NOM_PLAN"),
        F.col("l_linestatus").alias("NOM_CENTROCOS"),
        F.lit("E1").alias("COD_ENTIDAD1"),
        F.lit("ENT").alias("NOM_ENTIDAD1"),
        F.when(F.col("l_returnflag") == "N", F.lit("CONSULTA EXTERNA"))
        .when(F.col("l_returnflag") == "R", F.lit("URGENCIAS"))
        .otherwise(F.lit("HOSPITALIZACION")).alias("AMBITO"),
        F.concat(F.lit("A"), (sk % 20).cast("string")).alias("DX_PRINCIPAL.0"),
        F.concat(F.lit("DX"), (sk % 20).cast("string")).alias("DX_PRINCIPAL.1"),
    )

    # Dimensions are built DRIVER-SIDE (one tiny collect for the key
    # universe, then local rows → an Arrow LocalRelation): mirrors the
    # reference, whose dims arrive as driver-downloaded Excel files
    # (capital_sendas.py:65-77), and removes four scan+distinct+
    # broadcast job chains that dominated wall time at bench SFs. The
    # expressions are the same arithmetic the SQL oracle's `keys` CTE
    # applies. When the part file is small and driver-local, the key
    # universe is read with pyarrow instead of a Spark job (the same
    # local-stat shortcut readers.estimated_scan_splits takes — r12:
    # the collect job was ~0.9 s of the flagship's wall); larger or
    # remote inputs keep the cluster path. The rows reach the JVM as a
    # LocalTableScan (readers.local_relation), not a Python RDD, so the
    # four dim scans in enrich start no Python-worker jobs.
    keys = _part_keys(spark, sf_dir)
    codigos = local_relation(
        spark,
        [(str(k), f"CON-{k % 7}", str(k % 5)) for k in keys],
        _string_schema("SERVICIO", "CONCEPTO", "GRUPO QX"),
    )

    tip_rows = [
        # dim "file order": cc='F' rows precede cc='O' rows, the
        # keep-first tiebreak for J3 (unique within each SERVICIO group)
        (str(k), cc, TIPS[(k + (0 if cc == "O" else 1)) % 14], 0 if cc == "F" else 1)
        for k in keys
        for cc in ("F", "O")
        if not (cc == "F" and k % 3 == 0)
    ]
    spec_rows = [
        (s, cc, ("C5" if s == "132P01" else "C4"), (0 if cc == "F" else 1))
        for s in SPECIAL
        for cc in ("F", "O")
    ]
    tipologia = local_relation(
        spark,
        tip_rows + spec_rows,
        _string_schema("SERVICIO", "NOM_CENTROCOS", "tipologia").add(
            ROW_ID, T.LongType()
        ),
    )

    anexos = local_relation(
        spark,
        [(str(k), NAMES[k % 6]) for k in keys]
        + [(str(k), NAMES[(k + 2) % 6]) for k in keys]
        + [(s, "MEDICINA GENERAL") for s in SPECIAL],
        _string_schema("CUPS", "TIPOLOGIA NOMBRE"),
    )

    bases = cust.filter(F.col("c_custkey") % 4 != 0).select(
        F.col("c_custkey").cast("string").alias("documento"),
        F.concat(F.lit("IPS-"), (F.col("c_custkey") % 10).cast("string")).alias("ips"),
    )
    return fact, codigos, tipologia, anexos, bases


def sendas_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the whole capital-sendas DAG on driver-table-derived inputs."""
    fact, codigos, tipologia, anexos, bases = sendas_inputs(spark, sf_dir)
    out, _check = run_pipeline(
        fact, codigos, tipologia, anexos, bases, mes=MES, parse_dates=False
    )
    return out


_TIPS_SQL = "[" + ", ".join(f"'{t}'" for t in TIPS) + "]"
_NAMES_SQL = "[" + ", ".join(f"'{n}'" for n in NAMES) + "]"
_SPEC_TIP_SQL = ", ".join(
    f"('{s}', '{cc}', '{'C5' if s == '132P01' else 'C4'}', {0 if cc == 'F' else 1})"
    for s in SPECIAL
    for cc in ("F", "O")
)
_SPEC_ANX_SQL = ", ".join(f"('{s}', 'MEDICINA GENERAL')" for s in SPECIAL)

SENDAS_FULL_SQL = f"""
WITH RECURSIVE
li_rid AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey,
            l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax,
            l_returnflag, l_linestatus, l_shipdate) AS rid
  FROM lineitem
),
fact0 AS (
  SELECT rid,
         'SEDE A' AS SEDE_NOMBRE,
         CASE WHEN l_orderkey % 17 = 0 THEN 'SN' || CAST(l_orderkey AS VARCHAR)
              ELSE 'FA' || lpad(CAST(l_orderkey AS VARCHAR), 10, '0') END AS FACTURA,
         o_orderdate AS FECHA_FACT,
         CASE WHEN l_orderkey % 17 = 0 THEN 'SN' || CAST(l_orderkey AS VARCHAR)
              ELSE 'FA' || lpad(CAST(l_orderkey AS VARCHAR), 10, '0') END
           || '-' || CAST(l_linenumber % 3 AS VARCHAR) AS INGRESO,
         CAST(o_custkey AS VARCHAR) AS DOC_PACIENTE,
         CAST(l_shipdate AS DATE) - CAST(o_custkey % 5000 AS INT) AS FEC_NACIMIENTO,
         CASE WHEN o_custkey % 2 = 0 THEN 'F' ELSE 'M' END AS GENERO,
         CAST(o_custkey % 90 AS INT) AS EDAD,
         CASE l_partkey % 29 WHEN 0 THEN '890502' WHEN 1 THEN '132P01'
              WHEN 2 THEN '890285' WHEN 3 THEN '890385' WHEN 4 THEN '890384'
              WHEN 5 THEN '890284'
              ELSE CAST(l_partkey % 200 AS VARCHAR) END AS SERVICIO,
         'SVC' AS NOM_SERVICIO_PRODUCTO,
         l_shipdate AS FEC_SERVICIO,
         CAST(FLOOR(l_quantity) AS INT) AS CANT_SERVICIO,
         CAST(CASE WHEN l_partkey % 11 = 0 THEN 0 ELSE FLOOR(l_extendedprice) END AS INT) AS VALOR_TOTAL,
         CASE WHEN o_custkey % 5 = 0 THEN 'OTRO' ELSE 'PGP01' END AS COD_PLAN,
         CASE WHEN l_orderkey % 13 = 0 THEN 'PARTICULAR' ELSE 'PLAN PGP CAPITADO' END AS NOM_PLAN,
         l_linestatus AS NOM_CENTROCOS,
         'E1' AS COD_ENTIDAD1, 'ENT' AS NOM_ENTIDAD1,
         CASE l_returnflag WHEN 'N' THEN 'CONSULTA EXTERNA'
              WHEN 'R' THEN 'URGENCIAS' ELSE 'HOSPITALIZACION' END AS AMBITO,
         'A' || CAST(l_suppkey % 20 AS VARCHAR) AS "DX_PRINCIPAL.0",
         'DX' || CAST(l_suppkey % 20 AS VARCHAR) AS "DX_PRINCIPAL.1"
  FROM li_rid JOIN orders ON l_orderkey = o_orderkey
),
fact1 AS (
  SELECT * REPLACE (CAST(FECHA_FACT AS DATE) AS FECHA_FACT,
                    CAST(FEC_SERVICIO AS DATE) AS FEC_SERVICIO)
  FROM fact0
  WHERE NOM_PLAN LIKE '%PGP%' AND FACTURA NOT LIKE 'SN%'
    AND EXTRACT(month FROM FECHA_FACT) = {MES}
),
keys AS (SELECT DISTINCT p_partkey % 200 AS k FROM part),
codigos AS (
  SELECT CAST(k AS VARCHAR) AS SERVICIO,
         'CON-' || CAST(k % 7 AS VARCHAR) AS CONCEPTO,
         CAST(k % 5 AS VARCHAR) AS "GRUPO QX"
  FROM keys
),
tip_dim AS (
  SELECT CAST(k AS VARCHAR) AS SERVICIO, cc AS NOM_CENTROCOS,
         ({_TIPS_SQL})[(k + CASE WHEN cc = 'O' THEN 0 ELSE 1 END) % 14 + 1] AS tipologia,
         CASE WHEN cc = 'F' THEN 0 ELSE 1 END AS dim_rid
  FROM keys CROSS JOIN (VALUES ('F'), ('O')) AS c(cc)
  WHERE NOT (cc = 'F' AND k % 3 = 0)
  UNION ALL
  SELECT * FROM (VALUES {_SPEC_TIP_SQL}) AS s(SERVICIO, NOM_CENTROCOS, tipologia, dim_rid)
),
anexos AS (
  SELECT CAST(k AS VARCHAR) AS CUPS, ({_NAMES_SQL})[k % 6 + 1] AS "TIPOLOGIA NOMBRE" FROM keys
  UNION ALL
  SELECT CAST(k AS VARCHAR), ({_NAMES_SQL})[(k + 2) % 6 + 1] FROM keys
  UNION ALL
  SELECT * FROM (VALUES {_SPEC_ANX_SQL}) AS s(CUPS, tn)
),
bases AS (
  SELECT CAST(c_custkey AS VARCHAR) AS documento,
         'IPS-' || CAST(c_custkey % 10 AS VARCHAR) AS ips
  FROM customer WHERE c_custkey % 4 <> 0
),
tip_general AS (
  SELECT SERVICIO, tipologia FROM tip_dim
  WHERE tipologia NOT IN ('H1', 'H2', 'H3', 'H4', 'H5')
  QUALIFY ROW_NUMBER() OVER (PARTITION BY SERVICIO ORDER BY dim_rid) = 1
),
tip_override AS (
  SELECT SERVICIO, NOM_CENTROCOS, tipologia FROM tip_dim
  QUALIFY ROW_NUMBER() OVER (PARTITION BY SERVICIO, NOM_CENTROCOS ORDER BY dim_rid) = 1
),
enr AS (
  SELECT f.*, c.CONCEPTO, c."GRUPO QX",
         CASE WHEN dd >= 365 THEN dd // 365
              WHEN dd >= 30 THEN dd // 30 ELSE dd END AS "EDAD 1",
         CASE WHEN dd >= 365 THEN 'Años'
              WHEN dd >= 30 THEN 'Meses' ELSE 'Días' END AS "EDAD 2",
         COALESCE(o.tipologia, g.tipologia) AS tipologia
  FROM (SELECT *, FEC_SERVICIO - FEC_NACIMIENTO AS dd FROM fact1) f
  LEFT JOIN codigos c USING (SERVICIO)
  LEFT JOIN tip_general g USING (SERVICIO)
  LEFT JOIN tip_override o USING (SERVICIO, NOM_CENTROCOS)
),
combos AS (SELECT DISTINCT GENERO, EDAD, SERVICIO FROM enr),
combo_pick AS (
  SELECT GENERO, EDAD, SERVICIO, tn AS "TIPOLOGIA NOMBRE"
  FROM (
    SELECT cb.GENERO, cb.EDAD, cb.SERVICIO, COALESCE(a."TIPOLOGIA NOMBRE", '') AS tn,
           CASE WHEN regexp_matches(UPPER(COALESCE(a."TIPOLOGIA NOMBRE", '')),
                                    'PEDIATRIA|GINECOLOGIA') THEN 1 ELSE 2 END AS contiene
    FROM combos cb
    LEFT JOIN (SELECT DISTINCT CUPS, "TIPOLOGIA NOMBRE" FROM anexos) a
      ON cb.SERVICIO = a.CUPS
  )
  WHERE CASE WHEN tn LIKE '%PEDIATRIA%' AND EDAD < 14 THEN tn
             WHEN tn LIKE '%GINECOLOGIA%' AND GENERO = 'F' THEN tn
             WHEN tn NOT LIKE '%PEDIATRIA%' AND tn NOT LIKE '%GINECOLOGIA%' THEN tn
             ELSE '' END <> ''
  QUALIFY ROW_NUMBER() OVER (PARTITION BY GENERO, EDAD, SERVICIO
                             ORDER BY contiene, tn) = 1
),
enr2 AS (
  SELECT e.*, p."TIPOLOGIA NOMBRE", b.ips
  FROM enr e
  LEFT JOIN combo_pick p USING (GENERO, EDAD, SERVICIO)
  LEFT JOIN bases b ON e.DOC_PACIENTE = b.documento
),
-- R1 Quirófano: staged windows (mark ≤2 per tipologia run, ≤3 per group)
r1s AS (
  SELECT rid, FACTURA, FEC_SERVICIO, tipologia,
         ROW_NUMBER() OVER w AS rn,
         CASE WHEN LAG(tipologia) OVER w IS DISTINCT FROM tipologia THEN 1 ELSE 0 END AS chg
  FROM enr2
  WHERE COALESCE(tipologia, '') LIKE 'Qx%' AND VALOR_TOTAL > 0
  WINDOW w AS (PARTITION BY FACTURA, FEC_SERVICIO ORDER BY tipologia DESC, rid)
),
r1b AS (
  SELECT *, MAX(CASE WHEN chg = 1 THEN rn END) OVER
            (PARTITION BY FACTURA, FEC_SERVICIO ORDER BY rn
             ROWS UNBOUNDED PRECEDING) AS run_start
  FROM r1s
),
r1c AS (SELECT *, CASE WHEN rn - run_start < 2 THEN 1 ELSE 0 END AS eligible FROM r1b),
r1d AS (
  SELECT *, SUM(eligible) OVER (PARTITION BY FACTURA, FEC_SERVICIO ORDER BY rn
                                ROWS UNBOUNDED PRECEDING) AS esf
  FROM r1c
),
r1m AS (SELECT rid, CASE WHEN eligible = 1 AND esf <= 3 THEN 1 ELSE 0 END AS v FROM r1d),
-- R2 Egreso: two branches, different dedup keys
r2m AS (
  SELECT rid FROM (
    SELECT rid FROM enr2
    WHERE COALESCE(tipologia, '') LIKE 'H%' AND tipologia IN ('H1','H2','H3','H4','H5')
    QUALIFY ROW_NUMBER() OVER (PARTITION BY FACTURA, SERVICIO, NOM_CENTROCOS ORDER BY rid) = 1
  )
  UNION ALL
  SELECT rid FROM (
    SELECT rid FROM enr2
    WHERE COALESCE(tipologia, '') LIKE 'H%' AND tipologia NOT IN ('H1','H2','H3','H4','H5')
    QUALIFY ROW_NUMBER() OVER (PARTITION BY FACTURA, SERVICIO ORDER BY rid) = 1
  )
),
-- R3 Ambulatorio C1: first service per patient-day
r3m AS (
  SELECT rid FROM enr2
  WHERE tipologia = 'C1' AND COALESCE(COD_PLAN, '') LIKE 'PGP%'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY DOC_PACIENTE, FEC_SERVICIO ORDER BY rid) = 1
),
-- R4 membership flag
has132 AS (SELECT DISTINCT FACTURA FROM enr2 WHERE SERVICIO = '132P01'),
-- R7: INGRESO dedup then recursive anchor-reset gap walk
c5kept AS (
  SELECT rid, DOC_PACIENTE, "DX_PRINCIPAL.1" AS dx, FEC_SERVICIO FROM enr2
  WHERE tipologia = 'C5'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY INGRESO
                             ORDER BY DOC_PACIENTE, "DX_PRINCIPAL.1", FEC_SERVICIO, rid) = 1
),
c5ord AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY DOC_PACIENTE, dx
                               ORDER BY FEC_SERVICIO, rid) AS rn
  FROM c5kept
),
c5walk AS (
  SELECT DOC_PACIENTE, dx, rid, FEC_SERVICIO, rn, 1 AS v, FEC_SERVICIO AS anchor
  FROM c5ord WHERE rn = 1
  UNION ALL
  SELECT o.DOC_PACIENTE, o.dx, o.rid, o.FEC_SERVICIO, o.rn,
         CASE WHEN o.FEC_SERVICIO - w.anchor > 3 THEN 1 ELSE 0 END,
         CASE WHEN o.FEC_SERVICIO - w.anchor > 3 THEN o.FEC_SERVICIO ELSE w.anchor END
  FROM c5walk w
  JOIN c5ord o ON o.DOC_PACIENTE = w.DOC_PACIENTE AND o.dx = w.dx AND o.rn = w.rn + 1
),
c5m AS (SELECT rid, v FROM c5walk),
-- R8 Qx1: first (FACTURA, SERVICIO) row → 1, rest of scope → 0
qx1m AS (
  SELECT rid, CASE WHEN ROW_NUMBER() OVER (PARTITION BY FACTURA, SERVICIO ORDER BY rid) = 1
                   THEN 1 ELSE 0 END AS v
  FROM enr2 WHERE tipologia = 'Qx1'
),
final AS (
  SELECT e.*,
         -- reverse rule order = last-writer-wins over the sequential fold
         CASE WHEN e.tipologia = 'RM' THEN e.CANT_SERVICIO
              WHEN q.v IS NOT NULL THEN q.v
              WHEN c5.v IS NOT NULL THEN c5.v
              WHEN e.tipologia = 'C5' THEN 0
              WHEN e.tipologia IN ('HD', 'ARI') THEN 1
              WHEN e.tipologia = 'C7' THEN e.CANT_SERVICIO
              WHEN e.tipologia = 'C8' AND e.AMBITO = 'CONSULTA EXTERNA' THEN e.CANT_SERVICIO
              WHEN e.AMBITO = 'CONSULTA EXTERNA' AND e.tipologia = 'C4'
                   AND h.FACTURA IS NOT NULL
                   AND e.SERVICIO IN ('890285','890385','890384','890284','890502') THEN 0
              WHEN e.AMBITO = 'CONSULTA EXTERNA' AND e.tipologia = 'C4'
                   AND e.SERVICIO = '890502' THEN e.CANT_SERVICIO
              WHEN e.AMBITO = 'CONSULTA EXTERNA' AND e.tipologia = 'C4' THEN 1
              WHEN r3.rid IS NOT NULL THEN 1
              WHEN r2.rid IS NOT NULL THEN 1
              WHEN r1.v IS NOT NULL THEN r1.v
              ELSE 0 END AS validacion
  FROM enr2 e
  LEFT JOIN r1m r1 USING (rid)
  LEFT JOIN (SELECT DISTINCT rid FROM r2m) r2 USING (rid)
  LEFT JOIN r3m r3 USING (rid)
  LEFT JOIN has132 h USING (FACTURA)
  LEFT JOIN c5m c5 USING (rid)
  LEFT JOIN qx1m q USING (rid)
)
SELECT SEDE_NOMBRE, FACTURA,
       strftime(FECHA_FACT, '%Y/%m/%d') AS FECHA_FACT,
       INGRESO, GENERO, SERVICIO, NOM_SERVICIO_PRODUCTO,
       strftime(FEC_SERVICIO, '%Y/%m/%d') AS FEC_SERVICIO,
       CANT_SERVICIO, COD_PLAN, NOM_PLAN, COD_ENTIDAD1, NOM_ENTIDAD1, AMBITO,
       "DX_PRINCIPAL.0", "DX_PRINCIPAL.1", CONCEPTO, "GRUPO QX",
       "EDAD 1", "EDAD 2", tipologia, "TIPOLOGIA NOMBRE", ips, validacion
FROM final
"""
