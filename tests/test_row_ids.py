"""Row identity of the audit fact (SURVEY §1.4).

The reference marks rows by their pandas index; here ``__row_id`` stands
in for it. ``sendas_inputs`` derives it from the lineitem key —
``l_orderkey << 16 | l_linenumber << 8 | rank`` — so it must be unique,
sort exactly like the oracle's ``ROW_NUMBER()`` over all 11 lineitem
columns, come out the same on every execution and partition count, and
fail loudly outside its bit budget.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE

from etl_sendas_spark.plans.sendas_driver_query import SENDAS_FULL_SQL, sendas_inputs
from etl_sendas_spark.sources.readers import ROW_ID

# fact columns that carry the lineitem columns the id orders by
_PROJ = [
    "FACTURA", "INGRESO", "FEC_SERVICIO", "FEC_NACIMIENTO", "SERVICIO",
    "CANT_SERVICIO", "VALOR_TOTAL", "NOM_CENTROCOS", "AMBITO", "DX_PRINCIPAL.1",
]


# sf0.01: big enough that a range-sampled numbering draws different
# boundaries, and so different ids, on two executions (sf0.001 is not)
_SF_STABILITY = os.path.join(os.path.dirname(SF_ORACLE), "sf0.01")
if not os.path.isdir(_SF_STABILITY):
    _SF_STABILITY = SF_ORACLE


def _fact_rows(fact):
    cols = [ROW_ID] + [
        F.to_date(c).alias(c) if c.startswith("FEC_") else F.col(f"`{c}`")
        for c in _PROJ
    ]
    return sorted(tuple(r) for r in fact.select(*cols).collect())


def test_fact_ids_unique_and_in_oracle_row_number_order(spark, duck):
    fact = sendas_inputs(spark, SF_ORACLE)[0]
    rows = _fact_rows(fact)
    ids = [r[0] for r in rows]
    assert len(ids) > 100
    assert len(set(ids)) == len(ids)

    # the id packs the key: orderkey from FACTURA (FA + zero-padded
    # key), linenumber % 3 from the INGRESO suffix
    for rid, factura, ingreso, *_ in rows:
        assert rid >> 16 == int(factura[2:])
        assert (rid >> 8 & 0xFF) % 3 == int(ingreso.rsplit("-", 1)[1])
        assert 1 <= rid & 0xFF < 256

    # the oracle's own numbering: its li_rid/fact0/fact1 CTEs, ordered
    # by rid — the same fact rows must come out in the same order
    ctes = SENDAS_FULL_SQL.split("keys AS (")[0].rstrip().rstrip(",")
    select = ", ".join(
        f"strftime({c}, '%Y-%m-%d')" if c.startswith("FEC_") else f'"{c}"'
        for c in _PROJ
    )
    oracle = duck.execute(f"{ctes} SELECT {select} FROM fact1 ORDER BY rid").fetchall()
    ours = [
        tuple(v.isoformat() if hasattr(v, "isoformat") else v for v in r[1:])
        for r in rows
    ]
    assert ours == [tuple(r) for r in oracle]


def test_fact_ids_identical_across_executions_and_partition_counts(spark):
    fact = sendas_inputs(spark, _SF_STABILITY)[0]
    first = _fact_rows(fact)
    assert _fact_rows(fact) == first  # the same lazy frame, run again

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("4", "13"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            assert _fact_rows(sendas_inputs(spark, _SF_STABILITY)[0]) == first, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    plan = fact._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan


def test_fact_id_out_of_bit_budget_raises(spark, tmp_path):
    """A key the id cannot pack (l_linenumber 300 > 255) on a row the
    month and ingest predicates keep must fail the query, not alias."""
    sf = str(tmp_path)
    for t in ("orders", "customer", "part"):
        shutil.copy(os.path.join(SF_ORACLE, f"{t}.parquet"), sf)
    kept = int(sendas_inputs(spark, SF_ORACLE)[0].first()["FACTURA"][2:])
    li = pq.read_table(os.path.join(SF_ORACLE, "lineitem.parquet"))
    hit = pc.equal(li["l_orderkey"], kept)
    ln = li["l_linenumber"]
    li = li.set_column(
        li.schema.get_field_index("l_linenumber"), "l_linenumber",
        pc.if_else(hit, pa.scalar(300, ln.type), ln),
    )
    pq.write_table(li, os.path.join(sf, "lineitem.parquet"))

    with pytest.raises(Exception, match="bit budget"):
        sendas_inputs(spark, sf)[0].collect()
