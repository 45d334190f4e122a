"""Sources: scans S1–S4 and S7 of the reference, Spark-first.

Reference behavior (cited into /root/reference/capital_sendas.py):

- S1 HTTP Excel source (:30-61): OneDrive URL rewritten to
  ``?download=1``, fetched, staged, read via DuckDB ``st_read``.
  Spark-first: dims are tiny → fetch driver-side, parse with pandas,
  ``createDataFrame`` over Arrow; facts should live as Parquet.
- S2 directory glob (:80) + S3 filename-derived partition column
  (:82-90): ``produccion_YYYYMMDD_*.xlsx`` → ``AnoMes = name.split('_')
  [1][:6]``; keep only max-AnoMes files (manual partition pruning).
- S4 multi-file loop with header promotion + all-column anti-join
  dedup + concat (:96-125). Spark-first: one ``unionByName`` chain
  with a cumulative ``left_anti`` on all columns; at scale this is a
  date-partitioned Parquet table and the anti-join disappears into
  partition pruning (later files of the same month win).

Nothing here copies reference code — semantics only.
"""

from __future__ import annotations

import io
import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

ROW_ID = "__row_id"


def local_relation(
    spark: SparkSession, rows: Sequence[tuple], schema: T.StructType
) -> DataFrame:
    """Driver-resident rows as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list_of_tuples)`` plans as ``Scan
    ExistingRDD`` over a Python RDD: every scan of the frame (each
    broadcast build, each re-execution) runs a Python-worker job, one
    task per default-parallelism slot. Going through a ``pyarrow.Table``
    with the explicit ``schema`` instead hands the JVM the rows once, as
    a ``LocalTableScan`` that no Python worker ever touches. The schema
    is taken as given (no inference), so NULLs and empty inputs keep
    their declared types. For small frames only: the rows pass through
    the driver.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def with_row_id(df: DataFrame) -> DataFrame:
    """Attach the synthetic row id (SURVEY.md §1.4) by position.

    The reference's rule engine mutates by pandas row identity
    (``df.update`` / ``df.loc[idx]`` — capital_sendas.py:380,409,429,
    543,559). Spark rows have no identity, so every keep-first dedup
    and write-back in this engine threads this column instead.

    The id is ``monotonically_increasing_id``: no shuffle, ordered by
    partition then by row within a partition. It is deterministic only
    for a fixed file layout with no shuffle below it (a file scan, a
    union of scans, a local relation); above a shuffle, each execution
    may number the rows differently. Frames with a natural key derive
    the id from the key instead (``sendas_inputs``).
    """
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


# Tables that play the FACT role: a real deployment stores these as
# many date-partitioned files, so every scan has ≥cluster-parallelism
# splits for free. The driver testdata is one single-row-group parquet
# file per table, which Spark cannot split — without widening, every
# fact scan (and everything narrow above it) runs on ONE core.
FACT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}


def widen_to_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's default parallelism
    when the scan produced fewer splits. Catalyst still pushes filters
    and projections through the exchange into the scan; on inputs that
    already have enough splits this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _parse_bytes(v: str) -> int:
    m = re.match(r"^(\d+)\s*([kmgt]?)b?$", v.strip().lower())
    if not m:
        return 128 * 1024 * 1024
    return int(m.group(1)) * (1024 ** {"": 0, "k": 1, "m": 2, "g": 3, "t": 4}[m.group(2)])


def estimated_scan_splits(spark: SparkSession, path: str) -> int | None:
    """Estimate how many input splits a parquet scan of ``path`` plans,
    WITHOUT materializing the query's RDD lineage (``df.rdd
    .getNumPartitions()`` costs a full plan conversion per call — a
    measurable slice of small-query latency). Mirrors Spark's file-split
    planning: ceil(total bytes / maxPartitionBytes). Returns None for
    paths the driver cannot stat locally (remote filesystems) — callers
    then fall back to the exact RDD check."""
    if not os.path.exists(path):
        return None
    max_bytes = _parse_bytes(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    )
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith(("_", "."))
            )
    else:
        total = os.path.getsize(path)
    return max(1, -(-total // max_bytes))


def ensure_nanos_readable(spark: SparkSession) -> None:
    """Make Parquet TIMESTAMP(NANOS) columns readable on ANY session.

    The driver testdata's ``events.parquet`` stores ``ts`` as
    ``timestamp[ns]``; vanilla Spark refuses to read it
    (``PARQUET_TYPE_ILLEGAL``) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set, in which case the
    column arrives as a nanosecond ``bigint``. The conf is a runtime
    SQL conf, so set it at read time rather than relying on session
    construction — every reader in this module is then self-contained
    and works under a harness-built SparkSession, not just
    :func:`etl_sendas_spark.session.get_spark`."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf locked (never on OSS Spark)
        pass


def normalize_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType (LTZ) whatever
    parquet flavor it arrived in:

    - ``bigint`` — TIMESTAMP(NANOS) read under ``nanosAsLong``;
      integer-divide to µs (``/1000`` in double loses the µs digit at
      the 1.7e18 mantissa edge).
    - ``timestamp_ntz`` — plain µs/ms parquet with isAdjustedToUTC=false
      (what DuckDB/pyarrow write by default), which Spark 4 infers as
      NTZ; NTZ breaks epoch casts and stream watermarks, so cast to LTZ
      (identical instant under the engine's UTC session).
    """
    dt = dict(df.dtypes).get(ts_col)
    if dt == "bigint":
        return df.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    if dt == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def read_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = True
) -> DataFrame:
    """Read one driver testdata table (Parquet — the engine's native rest
    format). The events ``ts`` column is normalized to a microsecond
    LTZ timestamp whatever flavor the file stores
    (:func:`normalize_event_time`), matching how DuckDB reads the same
    file. Pass ``widen=False`` when the caller immediately repartitions
    anyway (e.g. a range repartition for row numbering) — the widening
    exchange would be thrown away."""
    ensure_nanos_readable(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_time(df, "ts")
    if widen and name in FACT_TABLES:
        est = estimated_scan_splits(spark, path)
        if est is None:
            df = widen_to_parallelism(df)
        elif est < spark.sparkContext.defaultParallelism:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None, **options
) -> DataFrame:
    """CSV scan with an explicit schema (never inferSchema in the engine path)."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.csv(path)


def _pandas_read_excel(path_or_bytes, sheet: str | int = 0, header_row: int | None = 0):
    """Driver-side Excel parse (dims are KB-sized; facts belong in Parquet).

    Uses pandas+openpyxl when installed (full xlsx feature coverage);
    otherwise the stdlib codec (:mod:`.xlsx`, zipfile+ElementTree) reads
    the same byte stream — the ``dtype=str`` contract is identical.
    """
    try:
        import openpyxl  # noqa: F401
        import pandas as pd

        return pd.read_excel(
            path_or_bytes, sheet_name=sheet, header=header_row, dtype=str
        )
    except ImportError:
        from .xlsx import read_xlsx

        return read_xlsx(path_or_bytes, sheet=sheet, header_row=header_row)


def onedrive_download_url(url: str) -> str:
    """Rewrite a OneDrive share link to direct-download form, exactly as
    the reference does (``url.split('?')[0] + '?download=1'``,
    capital_sendas.py:42)."""
    return url.split("?")[0] + "?download=1"


def dim_frame_to_spark(
    spark: SparkSession, pdf, promote_first_row: bool = False
) -> DataFrame:
    """The S1 normalization applied to a parsed Excel sheet, factored out
    of :func:`read_excel_dim` so the semantics stay testable (and
    oracle-checkable) in environments without openpyxl:

    - ``promote_first_row``: the production reports carry their header
      in the first data row (capital_sendas.py:100-102) — promote it
      and drop that row;
    - every column to string (the reference reads with ``dtype=str``);
    - NaN/NA → SQL NULL.
    """
    import pandas as pd

    pdf = pdf.copy()
    if promote_first_row:
        pdf.columns = [str(c) for c in pdf.iloc[0]]
        pdf = pdf.iloc[1:].reset_index(drop=True)
    pdf.columns = [str(c) for c in pdf.columns]
    # Explicit all-string schema + driver-side row materialization: type
    # inference over pandas StringDtype/pd.NA cells is session-dependent
    # (a non-Arrow session mis-infers NA as a struct → CANNOT_MERGE_TYPE)
    # and dim frames are driver-sized by definition.
    rows = [
        tuple(None if pd.isna(v) else str(v) for v in rec)
        for rec in pdf.itertuples(index=False, name=None)
    ]
    schema = T.StructType(
        [T.StructField(c, T.StringType(), True) for c in pdf.columns]
    )
    return local_relation(spark, rows, schema)


def read_excel_dim(
    spark: SparkSession,
    source: str,
    sheet: str | int = 0,
    header_row: int | None = 0,
    promote_first_row: bool = False,
) -> DataFrame:
    """Dimension-table Excel reader (reference S1, capital_sendas.py:30-61).

    ``source`` may be a local path or an ``http(s)://`` URL; OneDrive
    share links are rewritten to direct-download form exactly as the
    reference does (``url.split('?')[0] + '?download=1'``,
    capital_sendas.py:42). ``promote_first_row`` reproduces the
    header-promotion of the production reports (:100-102).

    Parses via pandas+openpyxl when installed, else via the
    dependency-free stdlib codec (:mod:`.xlsx`) — real ``.xlsx`` byte
    streams are readable either way.
    """
    if re.match(r"^https?://", source):
        import urllib.request

        url = onedrive_download_url(source)
        with urllib.request.urlopen(url) as resp:  # loopback-tested (test_xlsx_codec)
            if resp.status != 200:
                raise IOError(f"download failed: HTTP {resp.status}")
            payload = io.BytesIO(resp.read())
        pdf = _pandas_read_excel(payload, sheet, header_row)
    else:
        pdf = _pandas_read_excel(source, sheet, header_row)

    return dim_frame_to_spark(spark, pdf, promote_first_row)


def filename_partition(df: DataFrame) -> DataFrame:
    """S3: derive ``AnoMes`` from the input file name.

    Reference: ``Archivo.split('_')[1][:6]`` (capital_sendas.py:84).
    Spark-first: ``input_file_name()`` keeps this fully distributed —
    no driver-side listing needed once files are already being read.
    """
    base = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return df.withColumn(
        "AnoMes", F.substring(F.element_at(F.split(base, "_"), 2), 1, 6)
    )


def latest_partition_files(files: Sequence[str]) -> tuple[list[str], int]:
    """S2+S3 driver-side pruning: keep only max-``AnoMes`` files.

    Mirrors capital_sendas.py:80-90: parse ``AnoMes`` from each name,
    keep the max month's files sorted descending by name, and return
    the month number. This is manual partition pruning — on a
    date-partitioned Parquet layout, Catalyst's PartitionPruning does
    it for free and this helper is only needed for raw file drops.
    """
    parsed = []
    for f in files:
        name = os.path.basename(f)
        parts = name.split("_")
        if len(parts) < 2:
            continue
        parsed.append((f, parts[1][:6]))
    if not parsed:
        return [], 0
    top = max(am for _, am in parsed)
    keep = sorted((f for f, am in parsed if am == top), reverse=True)
    return keep, int(top[-2:])


def load_fact_files(
    spark: SparkSession,
    frames: Sequence[DataFrame],
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """S4: union per-file frames with cross-file all-column dedup.

    Reference semantics (capital_sendas.py:112-125): each later file is
    anti-joined against the accumulated union on ALL columns before
    concat — i.e. exact-duplicate rows across files are dropped, but
    duplicates *within* one file survive.

    Spark-first: rather than a serial chain of anti-joins (N shuffles),
    tag each row with its file ordinal, then keep, per
    all-columns group, only rows from the *first* file ordinal that
    contains the group. One shuffle on a hash of all columns, same
    result, and each file's internal duplicates are preserved.

    The result carries :data:`ROW_ID`, attached on the union BEFORE the
    dedup shuffle (:func:`with_row_id`): ids follow the reference's
    concat order — every row of file ``i`` below every row of file
    ``i + 1``, file order within a file — and not the shuffle's fetch
    order. The id is not part of the dedup key.
    """
    if not frames:
        raise ValueError("no input frames")
    tagged = []
    for i, fr in enumerate(frames):
        if columns:
            fr = fr.select(*columns)
        tagged.append(fr.withColumn("__file_ord", F.lit(i)))
    unioned = tagged[0]
    for fr in tagged[1:]:
        unioned = unioned.unionByName(fr)
    data_cols = [c for c in unioned.columns if c != "__file_ord"]
    unioned = with_row_id(unioned)

    from pyspark.sql import Window

    # backtick-quote: fact columns include dotted names (DX_PRINCIPAL.0)
    w = Window.partitionBy(*[F.col(f"`{c}`") for c in data_cols])
    return (
        unioned.withColumn("__min_ord", F.min("__file_ord").over(w))
        .filter(F.col("__file_ord") == F.col("__min_ord"))
        .drop("__file_ord", "__min_ord")
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: "StructType | str | None" = None,
    corrupt_col: str = "_corrupt_record",
):
    """JSON-Lines source — the lingua franca of LLM corpus interchange
    (one document object per line, unicode text, nested metadata).

    Always pass an explicit ``schema`` in production: schema inference
    is a full extra pass over the data (at 100 TB, a second 100 TB
    scan before the first real one). PERMISSIVE mode with a corrupt-
    record capture column keeps one malformed line from failing a
    corpus-sized job — bad lines land in ``corrupt_col`` for a
    quarantine sink instead of raising mid-scan, the same
    don't-die-on-one-bad-record rule the multimodal decoders enforce.
    """
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("encoding", "UTF-8")
    )
    if schema is not None:
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        # the corrupt column must exist in the schema to be populated
        if corrupt_col not in schema.fieldNames():
            schema = schema.add(T.StructField(corrupt_col, T.StringType(), True))
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-Lines sink. One object per line per part file; ignoreNullFields
    is disabled so a reader with the writer's schema round-trips nulls
    instead of silently dropping keys (lossless interchange beats the
    few bytes saved)."""
    df.write.mode(mode).option("ignoreNullFields", "false").option(
        "encoding", "UTF-8"
    ).json(path)


ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Expose every testdata table as a temp view so ``spark.sql(...)``
    is a first-class entry point next to the DataFrame API — the same
    Catalyst plans either way, and the same normalization path
    (:func:`read_table`, e.g. the events timestamp widening) as the
    DataFrame queries, so SQL and DataFrame results agree bit-for-bit.
    Missing files are skipped; returns the view names registered."""
    registered = []
    for name in ALL_TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)
            registered.append(name)
    return registered


_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
# max decimal digits an integer type can need (for decimal-vs-int widening)
_INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 20}


def _decimal_ps(t: str) -> tuple[int, int]:
    if "(" not in t:
        return (10, 0)  # Spark's default decimal(10,0)
    p, s = t.split("(")[1].rstrip(")").split(",")
    return (int(p), int(s))


def _widen_type(a: str, b: str) -> str:
    """Lossless-or-explicitly-promoted LUB of two Spark numeric types,
    matching Spark's own type-promotion rules where they exist:

    - within the integer family / within the float family: wider wins;
    - integer vs float/double: ``double`` (NOT float — a bigint cast to
      float silently loses precision above 2^24);
    - decimal vs decimal: max integral digits + max scale (capped 38);
    - decimal vs integer: decimal widened to fit the integer's digits;
    - decimal vs float/double: ``double`` (Spark's promotion);
    - anything else: ``string`` (lossless and greppable).
    """
    if a == b:
        return a
    ab, bb = a.split("(")[0], b.split("(")[0]
    if ab in _INT_RANK and bb in _INT_RANK:
        return a if _INT_RANK[ab] >= _INT_RANK[bb] else b
    floats = ("float", "double")
    if ab in floats and bb in floats:
        return "double"
    if (ab in _INT_RANK and bb in floats) or (ab in floats and bb in _INT_RANK):
        return "double"
    if ab == "decimal" and bb == "decimal":
        p1, s1 = _decimal_ps(a)
        p2, s2 = _decimal_ps(b)
        i, s = max(p1 - s1, p2 - s2), max(s1, s2)
        return f"decimal({min(38, i + s)},{s})"
    if ab == "decimal" and bb in _INT_RANK:
        p1, s1 = _decimal_ps(a)
        i, s = max(p1 - s1, _INT_DIGITS[bb]), s1
        return f"decimal({min(38, i + s)},{s})"
    if ab in _INT_RANK and bb == "decimal":
        return _widen_type(b, a)
    if (ab == "decimal" and bb in floats) or (ab in floats and bb == "decimal"):
        return "double"
    return "string"


def union_with_evolution(frames: Sequence[DataFrame]) -> DataFrame:
    """Union frames whose schemas EVOLVED across ingest waves: later
    files add columns and widen numeric types (int → bigint → double),
    which is exactly what a long-lived feed does and what a plain
    ``unionByName`` rejects.

    Per column name the numeric least-upper-bound wins (see
    :func:`_widen_type` — integer-vs-float conflicts promote to double,
    decimals widen by max(integral digits) + max(scale); non-numeric
    conflicts fall back to string — lossless and greppable); missing
    columns null-fill via ``allowMissingColumns``. Both steps are
    scan-local casts — schema evolution costs no shuffle at any scale.
    """
    if not frames:
        raise ValueError("union_with_evolution: no frames")
    widest: dict[str, str] = {}
    order: list[str] = []
    for df in frames:
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if f.name not in widest:
                widest[f.name] = t
                order.append(f.name)
            elif widest[f.name] != t:
                widest[f.name] = _widen_type(widest[f.name], t)
    out = None
    for df in frames:
        cast = df.select(
            *[
                F.col(c).cast(widest[c]).alias(c)
                for c in df.columns
            ]
        )
        out = cast if out is None else out.unionByName(
            cast, allowMissingColumns=True
        )
    return out.select(*order)
