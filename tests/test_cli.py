"""End-to-end test of the ``python -m etl_sendas_spark`` entry point:
multi-file produccion ingest with filename month pruning, the full
pipeline, and both sinks."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pandas as pd
from pyspark.sql import functions as F

from etl_sendas_spark.__main__ import main


def _fact_rows(month: int, n: int) -> pd.DataFrame:
    rows = []
    for i in range(n):
        rows.append(
            {
                "SEDE_NOMBRE": "SEDE A",
                "FACTURA": f"FA{i:05d}" if i % 5 else f"SN{i:05d}",
                "FECHA_FACT": dt.date(2024, month, 1 + i % 27),
                "INGRESO": f"ING-{i % 4}",
                "DOC_PACIENTE": str(100 + i % 7),
                "NOMBRE_PACIENTE": "ANA MARIA DE LOS RIOS GOMEZ",
                "FEC_NACIMIENTO": dt.date(1990, 1, 1 + i % 27),
                "GENERO": "F" if i % 2 == 0 else "M",
                "EDAD": str(30 + i % 40),
                "SERVICIO": str(i % 6),
                "NOM_SERVICIO_PRODUCTO": "SVC",
                "FEC_SERVICIO": dt.date(2024, month, 1 + i % 27),
                "CANT_SERVICIO": str(1 + i % 3),
                "VALOR_TOTAL": str(1000 * (i % 4)),
                "COD_PLAN": "PGP01" if i % 3 else "OTRO",
                "NOM_PLAN": "PLAN PGP CAPITADO" if i % 7 else "PARTICULAR",
                "NOM_CENTROCOS": "F" if i % 2 else "O",
                "COD_ENTIDAD1": "E1",
                "NOM_ENTIDAD1": "ENT",
                "AMBITO": ["CONSULTA EXTERNA", "URGENCIAS", "HOSPITALIZACION"][i % 3],
                "DX_PRINCIPAL.0": f"A{i % 3}",
                "DX_PRINCIPAL.1": f"DX{i % 3}",
            }
        )
    return pd.DataFrame(rows)


def test_cli_end_to_end(spark, tmp_path):
    # two months of produccion files: only 202409 must be ingested
    _fact_rows(9, 40).to_parquet(tmp_path / "produccion_20240901_20240930.parquet")
    _fact_rows(8, 25).to_parquet(tmp_path / "produccion_20240801_20240831.parquet")

    tips = ["C1", "C4", "C5", "C7", "H1", "HD"]
    pd.DataFrame(
        {"SERVICIO": [str(k) for k in range(6)],
         "CONCEPTO": [f"CON-{k}" for k in range(6)],
         "GRUPO QX": [str(k % 3) for k in range(6)]}
    ).to_parquet(tmp_path / "codigos.parquet")
    pd.DataFrame(
        {"SERVICIO": [str(k) for k in range(6)],
         "NOM_CENTROCOS": ["F", "O"] * 3,
         "tipologia": tips}
    ).to_parquet(tmp_path / "tipologia.parquet")
    pd.DataFrame(
        {"CUPS": [str(k) for k in range(6)],
         "TIPOLOGIA NOMBRE": ["CONSULTA PEDIATRIA", "CONSULTA GINECOLOGIA",
                              "MEDICINA GENERAL"] * 2}
    ).to_parquet(tmp_path / "anexos.parquet")
    pd.DataFrame(
        {"documento": [str(100 + k) for k in range(5)],
         "ips": [f"IPS-{k}" for k in range(5)]}
    ).to_parquet(tmp_path / "bases.parquet")

    out_dir = tmp_path / "out"
    rc = main([
        "--produccion", str(tmp_path / "produccion_*.parquet"),
        "--codigos", str(tmp_path / "codigos.parquet"),
        "--tipologia", str(tmp_path / "tipologia.parquet"),
        "--anexos", str(tmp_path / "anexos.parquet"),
        "--bases", str(tmp_path / "bases.parquet"),
        "--out-dir", str(out_dir),
        "--format", "csv",
    ])
    assert rc == 0

    [main_csv] = glob.glob(str(out_dir / "capital_sendas" / "*.csv"))
    got = pd.read_csv(main_csv)
    # month pruning + ingest filters: only Sept rows with PGP plan and
    # non-SN invoice survive (i%5 != 0 and i%7 != 0 of 40)
    src = _fact_rows(9, 40)
    expect = src[
        src["NOM_PLAN"].str.contains("PGP")
        & ~src["FACTURA"].str.startswith("SN")
    ]
    assert len(got) == len(expect)
    assert list(got.columns)[:4] == ["SEDE_NOMBRE", "FACTURA", "FECHA_FACT", "INGRESO"]
    assert "validacion" in got.columns
    assert (got["FECHA_FACT"].str[:7] == "2024/09").all()

    [check_csv] = glob.glob(str(out_dir / "comprobar" / "*.csv"))
    check = pd.read_csv(check_csv)
    # docs 105, 106 have no affiliation row → exactly those two patients
    assert sorted(check["DOC_PACIENTE"]) == [105, 106]
    assert set(check.columns) == {
        "DOC_PACIENTE", "nombre1", "nombre2", "apellido1", "apellido2"
    }


def test_sorted_write_produces_skippable_row_groups(spark, tmp_path):
    """write_parquet(sort_by=...): every row group's min/max statistics
    on the sort column must be tight and non-overlapping within each
    file — the property range-filter row-group skipping depends on.
    Small row groups forced so a single file holds several."""
    import pyarrow.parquet as pq

    from etl_sendas_spark.sources.sinks import write_parquet

    out = str(tmp_path / "sorted")
    df = (
        spark.range(0, 200_000)
        .select(
            F.col("id").alias("k"),
            # write order deliberately scrambled: sort_by must fix it
            F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("scrambled"),
        )
        .repartition(2)
    )
    # runtime SQL conf doesn't reach the parquet writer — set the
    # hadoop conf directly so each file gets several small row groups
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("parquet.block.size", str(64 * 1024))
    try:
        write_parquet(df, out, sort_by=["scrambled"])
    finally:
        hconf.unset("parquet.block.size")

    import os

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert files
    multi = 0
    for f in files:
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.schema.column(i).name == "scrambled"
        )
        ranges = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            assert st is not None and st.has_min_max
            ranges.append((st.min, st.max))
        if len(ranges) > 1:
            multi += 1
        for (lo, hi), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert lo <= hi <= lo2 <= hi2, ranges
    assert multi > 0, "need at least one multi-row-group file to prove skipping"


def test_compact_parquet_file_count_contract(spark, tmp_path):
    """compact_parquet returns ceil(bytes / target): with a target far
    below the dataset size the output must split into multiple files
    (the SF-dependent count the parity queries deliberately do NOT
    hash), and each compacted file must stay near the target."""
    import os

    from etl_sendas_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "frag")
    dst = str(tmp_path / "compacted")
    spark.range(200_000).selectExpr(
        "id", "repeat(uuid(), 8) AS pad"
    ).repartition(16).write.parquet(src)

    n = compact_parquet(spark, src, dst, target_file_mb=1)
    files = [
        f for f in os.listdir(dst) if f.endswith(".parquet")
    ]
    assert n >= 2, "a >1MB dataset must compact into multiple 1MB-target files"
    assert len(files) == n
    # content survives
    assert spark.read.parquet(dst).count() == 200_000

    # a big target folds everything into one file
    dst2 = str(tmp_path / "one")
    assert compact_parquet(spark, src, dst2, target_file_mb=4096) == 1


def test_zorder_write_skips_on_both_dimensions(spark, tmp_path):
    """write_parquet(zorder_by=[x, y]): a 2-D box predicate must touch
    far fewer files than the same predicate on a layout sorted by x
    alone — the multi-dimension clustering claim. File-level min/max
    stats (what any engine's scan pruning reads) are the judge."""
    import os

    import pyarrow.parquet as pq

    from etl_sendas_spark.sources.sinks import write_parquet

    n, files = 200_000, 32
    df = spark.range(0, n).select(
        (F.col("id") % 1000).alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("y"),
    )

    z_dir, s_dir = str(tmp_path / "zord"), str(tmp_path / "xsort")
    write_parquet(df, z_dir, zorder_by=["x", "y"], zorder_files=files)
    write_parquet(
        df.repartitionByRange(files, "x"), s_dir, sort_by=["x"]
    )

    def file_ranges(d):
        out = []
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            lo, hi = {}, {}
            for rg in range(md.num_row_groups):
                for c in ("x", "y"):
                    st = md.row_group(rg).column(idx[c]).statistics
                    lo[c] = min(lo.get(c, st.min), st.min)
                    hi[c] = max(hi.get(c, st.max), st.max)
            out.append((lo["x"], hi["x"], lo["y"], hi["y"]))
        return out

    # 10%-wide predicates: x-only, y-only, and the combined box
    lo, hi = 450, 550

    def hits(ranges, on_x, on_y):
        return sum(
            1
            for (xlo, xhi, ylo, yhi) in ranges
            if (not on_x or (xhi >= lo and xlo <= hi))
            and (not on_y or (yhi >= lo and ylo <= hi))
        )

    zr, sr = file_ranges(z_dir), file_ranges(s_dir)
    assert len(zr) >= files // 2 and len(sr) >= files // 2
    # x-sort is unbeatable on x-only but reads EVERY file for a y-only
    # filter; z-order prunes usefully on x-only, y-only, and the box.
    assert hits(sr, False, True) == len(sr), "x-sort can't prune on y"
    # at 32 files the curve gives ~4 tiles per dim -> one-dim pruning
    # is real but coarse; it refines as file count grows
    assert hits(zr, False, True) <= 2 * len(zr) // 3, "z must prune y-only"
    assert hits(zr, True, False) <= 2 * len(zr) // 3, "z must prune x-only"
    assert hits(zr, True, True) <= len(zr) // 3, "z must prune the box"
    # across the three query shapes, the balanced layout reads less
    z_total = sum(hits(zr, *q) for q in [(True, False), (False, True), (True, True)])
    s_total = sum(hits(sr, *q) for q in [(True, False), (False, True), (True, True)])
    assert z_total < s_total, (z_total, s_total)

    # layout must not change content
    a = spark.read.parquet(z_dir).groupBy().sum("x", "y").collect()[0]
    b = df.groupBy().sum("x", "y").collect()[0]
    assert a == b


def test_table_cli_lifecycle(spark, tmp_path, capsys):
    """The txlog maintenance CLI drives the library end-to-end:
    history/describe reflect commits, read exports a time-traveled
    snapshot, compact --zorder lands a clustered commit (recorded in
    the payload), change-feed exports per-commit I/U/D rows, vacuum
    GCs below the cutoff — all through main(argv), no subprocess."""
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.table_cli import main as table_main

    root = str(tmp_path / "tbl")
    df0 = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS a", "CAST(id % 7 AS BIGINT) AS b")
    t = TxLogTable.create(root, df0.repartition(4), stat_cols=["a", "b"])
    t.append(
        spark.range(100, 200).selectExpr("id AS k", "id * 2 AS a", "CAST(id % 7 AS BIGINT) AS b"),
        spark,
    )

    assert table_main(["history", root]) == 0
    out = capsys.readouterr().out
    assert "op=create" in out and "op=append" in out

    assert table_main(["describe", root]) == 0
    out = capsys.readouterr().out
    assert "head:      v1" in out and "k: bigint" in out

    snap0 = str(tmp_path / "snap0")
    assert table_main(["read", root, "--out", snap0, "--version", "0"]) == 0
    assert spark.read.parquet(snap0).count() == 100  # time travel, not head

    assert table_main(
        ["compact", root, "--target-files", "8", "--zorder", "a,b"]
    ) == 0
    assert t.commit_meta(2)["zorder_by"] == ["a", "b"]
    assert t.read(spark).count() == 200

    t.overwrite(spark.range(0, 50).selectExpr("id AS k", "id * 2 AS a", "CAST(id % 7 AS BIGINT) AS b"))
    feed_dir = str(tmp_path / "feed")
    assert table_main(
        ["change-feed", root, "--keys", "k", "--from-version", "3", "--out", feed_dir]
    ) == 0
    feed = spark.read.parquet(feed_dir)
    assert feed.filter("op = 'D'").count() == 150  # 200 -> 50 keys
    assert {r["_commit_version"] for r in feed.collect()} == {3}

    # DML + restore through the CLI (round 8)
    assert table_main(["delete", root, "--where", "k < 10"]) == 0
    assert t.read(spark).count() == 40
    assert table_main(
        ["update", root, "--set", "a=a+1000", "--where", "k = 20"]
    ) == 0
    assert t.read(spark).filter("k = 20").collect()[0]["a"] == 1040
    # ADVICE r8: commas inside a function call must not split the
    # assignment; a second --set flag adds another assignment
    assert table_main(
        [
            "update", root,
            "--set", "a=greatest(a,b)+least(a, b),b=b+1",
            "--set", "k=k",
            "--where", "k = 21",
        ]
    ) == 0
    row = t.read(spark).filter("k = 21").collect()[0]
    assert row["a"] == 42 + 0 and row["b"] == 1  # 21*2, 21%7=0 pre-update
    pre = t.latest_version()
    # three DML commits since the overwrite: back to the pre-delete
    # snapshot is pre-3
    assert table_main(["restore", root, "--version", str(pre - 3)]) == 0
    out = capsys.readouterr().out
    assert f"restored to v{pre - 3}" in out
    assert t.read(spark).count() == 50  # pre-delete content
    assert table_main(["delete", root, "--where", "k > 1000000000"]) == 0
    assert "no rows matched" in capsys.readouterr().out

    # merge-on-read modes + incremental bin-pack through the CLI
    files_pre = set(t.live_files())
    assert table_main(
        ["delete", root, "--mode", "dv", "--where", "k = 11"]
    ) == 0
    assert set(t.live_files()) == files_pre  # vector, not rewrite
    assert t.read(spark).filter("k = 11").count() == 0
    assert table_main(
        ["update", root, "--mode", "dv", "--set", "a=a+5", "--where",
         "k = 12"]
    ) == 0
    assert t.read(spark).filter("k = 12").collect()[0]["a"] == 29
    assert table_main(["bin-pack", root, "--target-mb", "64"]) == 0
    assert t._replay_dvs() == {}  # pack absorbed the vectors
    assert t.read(spark).count() == 49

    assert table_main(["vacuum", root, "--retain", "1", "--min-age-s", "0"]) == 0
    out = capsys.readouterr().out
    assert "cutoff v" in out
    # head still readable post-GC (50 restored - the dv-deleted k=11)
    assert t.read(spark).count() == 49

    # metadata-only schema evolution through the CLI (round 11)
    files_pre = sorted(t.live_files())
    assert table_main(["rename-column", root, "a", "amount"]) == 0
    assert "metadata-only" in capsys.readouterr().out
    assert table_main(["drop-column", root, "b"]) == 0
    assert sorted(t.live_files()) == files_pre  # zero files rewritten
    assert t.read(spark).columns == ["k", "amount"]
    assert t.read(spark).filter("k = 12").collect()[0]["amount"] == 29
    # k is already bigint in this fixture: widen must refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already"):
        table_main(["widen-column", root, "k", "bigint"])
    # describe surfaces the evolution state
    assert table_main(["describe", root]) == 0
    out = capsys.readouterr().out
    assert "mapping:" in out and "'amount': 'a'" in out
    assert "retired:" in out and "'b'" in out


def test_table_cli_clone(spark, tmp_path, capsys):
    """The clone subcommand (round 12): zero-copy branch through the
    CLI, reading back the source content and evolving independently."""
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.table_cli import main as table_main

    root = str(tmp_path / "src")
    TxLogTable.create(
        root, spark.range(50).selectExpr("id AS k", "id * 2 AS a")
    )
    dest = str(tmp_path / "clone")
    assert table_main(["clone", root, dest]) == 0
    out = capsys.readouterr().out
    assert "zero data copied" in out
    cl = TxLogTable(dest)
    assert cl.read(spark).count() == 50
    assert table_main(["delete", dest, "--where", "k < 10"]) == 0
    assert cl.read(spark).count() == 40
    assert TxLogTable(root).read(spark).count() == 50  # source intact


def test_table_cli_constraints(spark, tmp_path, capsys):
    """add-constraint / drop-constraint through the CLI (round 12)."""
    from etl_sendas_spark.sources.txlog import TxLogTable
    from etl_sendas_spark.table_cli import main as table_main

    root = str(tmp_path / "t")
    t = TxLogTable.create(
        root, spark.range(20).selectExpr("id AS k", "id * 2 AS a")
    )
    assert table_main(["add-constraint", root, "a_even", "a % 2 = 0"]) == 0
    assert "writes now validate" in capsys.readouterr().out
    import pytest as _pytest

    with _pytest.raises(ValueError, match="a_even"):
        t.append(
            spark.sql("SELECT CAST(99 AS BIGINT) AS k, "
                      "CAST(3 AS BIGINT) AS a"),
            spark,
        )
    assert table_main(["drop-constraint", root, "a_even"]) == 0
    t.append(
        spark.sql("SELECT CAST(99 AS BIGINT) AS k, CAST(3 AS BIGINT) AS a"),
        spark,
    )
    assert t.read(spark).count() == 21


def test_make_rowgroups_refuses_dst_in_src(tmp_path):
    """tools/make_rowgroups.py must refuse a destination that is the
    source or lies inside it (also through a symlink), exit non-zero and
    leave the source files byte-identical."""
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tool = os.path.join(repo, "tools", "make_rowgroups.py")
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"x": list(range(100))}), src / "t.parquet")
    before = {p.name: p.read_bytes() for p in src.iterdir()}
    link = tmp_path / "link"
    link.symlink_to(src)

    for dst in (src, src / "out", src / ".." / "src", link / "out"):
        r = subprocess.run(
            [sys.executable, tool, str(src), str(dst), "4"],
            capture_output=True, text=True,
        )
        assert r.returncode != 0, (dst, r.stdout)
        assert "refusing" in r.stderr
        assert {p.name: p.read_bytes() for p in src.iterdir()} == before

    # a sibling destination still works
    subprocess.run(
        [sys.executable, tool, str(src), str(tmp_path / "dst"), "4"],
        capture_output=True, text=True, check=True,
    )
    assert pq.ParquetFile(tmp_path / "dst" / "t.parquet").metadata.num_row_groups == 4
    assert {p.name: p.read_bytes() for p in src.iterdir()} == before
