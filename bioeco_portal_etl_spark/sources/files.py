"""File-based scans (SURVEY.md §2.1 S1-S4, S9).

Reference parity:
  - read_csv  -> notebooks/index.Rmd:56,69,433 (read.csv; multiline quoted
    GeoJSON fields — 25,123 physical lines for 243 records)
  - read_tsv  -> notebooks/index.Rmd:531
  - read_excel-> notebooks/index.Rmd:135,547 (read.xlsx sheet 1) — the
    bundled stdlib xlsx reader (sources/xlsx.py)
  - list_files-> notebooks/index.Rmd:472-474 (recursive .shp listing)

Scale notes: CSV with multiLine=True cannot be split within a file (each file
is one partition) — acceptable because multiline sources are dimension-scale;
fact-scale data arrives as parquet/ORC. Schemas should be passed explicitly
(inference scans the data twice and guesses).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    multi_line: bool = True,
    null_value: str = "NA",
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    reader = (
        spark.read.option("header", header)
        .option("multiLine", multi_line)
        .option("escape", '"')
        .option("nullValue", null_value)
        .option("sep", sep)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_tsv(spark: SparkSession, path: str, schema=None, **kw) -> DataFrame:
    return read_csv(spark, path, schema=schema, sep="\t", multi_line=False, **kw)


def read_jsonl(
    spark: SparkSession, path: str, schema=None, multi_line: bool = False
) -> DataFrame:
    """JSON-lines scan (one object per line — the splittable lake form; the
    reference's JSON surface is API payloads and GeoJSON strings, SURVEY.md
    §2.1 S6/S7). Pass an explicit schema in production: inference scans the
    data twice and infers from whatever sample it sees — a 100 TB footgun.
    ``multi_line=True`` reads whole-file JSON arrays (NOT splittable; one
    file = one task — keep for small fixture files only)."""
    reader = spark.read.option("multiLine", multi_line)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """ORC scan — the second columnar lake format next to parquet
    (SURVEY.md §2.1 extension). Same pushdown properties as the parquet
    scans: predicate pushdown + column pruning reach the ORC reader
    (ORC holds min/max stripe statistics like parquet row groups), so a
    filtered 2-column projection over a 100 TB ORC lake reads stripes
    and columns, not files. ``columns`` prunes eagerly at the API edge
    for callers that know their projection."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def read_excel(spark: SparkSession, path: str, sheet: int = 0) -> DataFrame:
    """S4: Excel scan (reference read.xlsx, notebooks/index.Rmd:135,547).
    Driver-side by design — xlsx files are dimension-scale configuration
    inputs — read by the bundled pure-stdlib reader (sources/xlsx.py), so
    the path needs no optional dependency. All-numeric columns arrive as
    double, everything else as string with blank cells null (R read.xlsx's
    numeric-or-character column typing).

    The rows reach Spark as one Arrow table, so the frame plans as a local
    relation (LocalTableScan) and never starts a Python worker."""
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from bioeco_portal_etl_spark.sources.xlsx import read_xlsx_table

    header, body = read_xlsx_table(path, sheet)
    arrays, fields = [], []
    for j, name in enumerate(header):
        col = [r[j] for r in body]
        vals = [v for v in col if v is not None]
        numeric = bool(vals) and all(isinstance(v, float) for v in vals)
        arrays.append(pa.array(col, pa.float64() if numeric else pa.string()))
        fields.append(StructField(name, DoubleType() if numeric else StringType(), True))
    table = pa.Table.from_arrays(arrays, names=header)
    return spark.createDataFrame(table, StructType(fields))


def list_files(root: str, pattern: str = "*.shp", recursive: bool = True) -> list[str]:
    """S9 directory-listing scan. Driver-side glob; on HDFS/S3 swap for the
    Hadoop FS API via spark._jvm — path list then drives a multi-file union."""
    pat = os.path.join(root, "**", pattern) if recursive else os.path.join(root, pattern)
    return sorted(_glob.glob(pat, recursive=recursive))


_NANOS_CACHE: dict[str, list[str]] = {}


def _nanos_columns(path: str) -> list[str]:
    """Column names stored as TIMESTAMP(NANOS) — Spark reads them as long
    (spark.sql.legacy.parquet.nanosAsLong); we restore timestamps on load.
    Cached per path: the driver-side footer probe must not re-read inside
    every (possibly timed) query build."""
    if path in _NANOS_CACHE:
        return _NANOS_CACHE[path]
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    out = []
    for f in schema:
        t = f.type
        if str(t).startswith("timestamp[ns"):
            out.append(f.name)
    _NANOS_CACHE[path] = out
    return out


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    import pyspark.sql.functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    # Non-UTC-adjusted parquet timestamps surface as TIMESTAMP_NTZ; every
    # epoch-math operator normalizes NTZ via cast to timestamp_ltz, which is
    # session-timezone-dependent. The engine's own factory pins UTC
    # (session.py) but the driver hands us an arbitrary session — the engine's
    # results are only defined for UTC sessions (they must match DuckDB's
    # epoch_us on naive timestamps). Converting a caller's session is a
    # visible, warned action, never a silent side effect; a session whose
    # timezone can't be set to UTC is a hard error, not a wrong answer.
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
        import warnings

        warnings.warn(
            f"read_parquet_table: session timezone {tz!r} is not UTC; "
            "setting spark.sql.session.timeZone=UTC for this session so "
            "TIMESTAMP_NTZ epoch math matches the engine's UTC contract. "
            "Create sessions via bioeco_portal_etl_spark.session.get_spark "
            "to avoid this.",
            stacklevel=2,
        )
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception as e:  # pragma: no cover - locked-conf session
            raise RuntimeError(
                "read_parquet_table requires a UTC session timezone for "
                f"correct timestamp semantics, but the session is pinned to "
                f"{tz!r} and cannot be changed: {e}"
            ) from e
    nanos = _nanos_columns(path)
    if nanos:
        # The engine's own session factory sets this (session.py), but the
        # driver hands us an arbitrary SparkSession — set it at read time so
        # TIMESTAMP(NANOS) parquet is readable from any session. It is a
        # runtime-settable SQL conf; guard for Spark builds where it isn't.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # pragma: no cover - static-conf fallback
            pass
    df = spark.read.parquet(path)
    for c in _nanos_columns(path):
        # ns -> µs integer division matching DuckDB's parquet ns->TIMESTAMP
        # conversion, which TRUNCATES TOWARD ZERO (verified empirically:
        # -1500 ns reads back as -1 µs, -1 ns as 0 — NOT floor). `div` has
        # exactly that semantics. floor(col/1000) would be wrong twice over:
        # double routing (53-bit mantissa, ±1 µs at epoch scale) and floor
        # direction for pre-1970 nanos. Regression-pinned in
        # tests/test_sources.py::test_nanos_conversion_matches_duckdb.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    """Load the driver's synthetic tables and register temp views so every
    operator is reachable from spark.sql as well."""
    out = {}
    for name in names or TESTDATA_TABLES:
        df = read_parquet_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
