"""Independent DuckDB oracles, computed once per seed outside the timed
region, and the order-free digests the workloads' outputs are checked
against. Everything here runs in the helper process (``helper.py``).

A digest is ``(row count, sum of per-row hashes)`` over every column
cast to text with NULL spelled ``\\N``, so it compares two multisets of
rows regardless of order, file layout or the engine that produced them.
"""

from __future__ import annotations

import duckdb

from etl_sendas_spark.plans.inventory import EXTRA_ORACLES, ORACLES

AUDIT_SQL = ORACLES["sendas_full_pipeline"]
R7_SQL = ORACLES["streaming_gap_anchor_mark"]

# ``sendas_inputs`` stamps this name on every fact row; its expected
# 4-part split is the row of ORACLES['scalar_name_split'] that spells it
PATIENT_NAME = "ANA MARIA DE LOS RIOS GOMEZ"
NAME_SPLIT_SQL = f"""
SELECT DISTINCT nombre1, nombre2, apellido1, apellido2
FROM ({EXTRA_ORACLES["scalar_name_split"]})
WHERE concat_ws(' ', nombre1, nombre2, apellido1, apellido2) = '{PATIENT_NAME}'
"""

# ``comprobar``: patients of the month-scoped fact with no affiliation
# row (the anti-join against ``bases``), each with the name split
COMPROBAR_SQL = f"""
SELECT p.DOC_PACIENTE, s.nombre1, s.nombre2, s.apellido1, s.apellido2
FROM (
  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS DOC_PACIENTE
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey % 13 <> 0 AND l_orderkey % 17 <> 0
    AND EXTRACT(month FROM o_orderdate) = 3
    AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 4 <> 0)
) p CROSS JOIN ({NAME_SPLIT_SQL}) s
"""


def _con(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def digest_sql(con: duckdb.DuckDBPyConnection, query: str) -> tuple[int, int]:
    cols = [d[0] for d in con.execute(f"SELECT * FROM ({query}) LIMIT 0").description]
    cells = ", ".join(f"COALESCE(CAST(\"{c}\" AS VARCHAR), '\\N')" for c in cols)
    n, h = con.execute(
        f"SELECT count(*), COALESCE(sum(hash({cells})::HUGEINT), 0) FROM ({query})"
    ).fetchone()
    return int(n), int(h)


def csv_digest(path: str) -> tuple[int, int]:
    """Digest of a directory of header-ed CSV part files (Spark's CSV
    sink writes NULL as an empty unquoted field)."""
    con = duckdb.connect()
    q = f"SELECT * FROM read_csv('{path}/*.csv', header=true, all_varchar=true)"
    return digest_sql(con, q)


def parquet_digest(path: str, columns: list[str]) -> tuple[int, int]:
    con = duckdb.connect()
    q = (f"SELECT {', '.join(columns)} FROM "
         f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)")
    return digest_sql(con, q)


def audit_oracle(sf_dir: str) -> dict:
    con = _con(sf_dir, ["lineitem", "orders", "customer", "part"])
    return {"capital_sendas": digest_sql(con, AUDIT_SQL), "comprobar": digest_sql(con, COMPROBAR_SQL)}


def audit_check(out_dir: str, oracle: dict) -> tuple[bool, tuple[int, int]]:
    """(both CSV outputs equal the oracle, digest of capital_sendas)."""
    digest = csv_digest(f"{out_dir}/capital_sendas")
    ok = digest == oracle["capital_sendas"] and csv_digest(f"{out_dir}/comprobar") == oracle["comprobar"]
    return ok, digest


def stream_oracle(files: list[str]) -> tuple[int, int]:
    """R7 over the feed files a run drops, read as one ``events`` table."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({files!r})")
    return digest_sql(con, f"SELECT event_id, validacion FROM ({R7_SQL})")
