"""Fixed-width text sources — SURVEY S3 (stations) and S4 (.dly files).

Reference: pd.read_fwf of ghcnd-stations.txt (ETL.py:133-140) and the
hand-rolled positional slicing of GHCN .dly lines into 128 fields
(ETL.py:101-131).

Spark-first: ``spark.read.text`` + generated ``substring`` projections.
The reference re-materializes each .dly as CSV per station file; here
the parse is a lazy projection — no intermediate files, and the scan
parallelizes across files/blocks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# GHCN-Daily station-file column spec (public format description):
# (name, 1-based start, length, type)
STATIONS_SPEC = [
    ("ID", 1, 11, "string"),
    ("lat", 13, 8, "double"),
    ("long", 22, 9, "double"),
    ("elev", 32, 6, "double"),
    ("city", 42, 30, "string"),
    ("unk1", 73, 3, "string"),
    ("unk2", 77, 3, "string"),
    ("unk3", 81, 5, "string"),
]


def read_fixed_width(
    spark: SparkSession, path: str, spec: list[tuple[str, int, int, str]]
) -> DataFrame:
    """Generic fixed-width reader: one substring projection per field,
    trimmed and cast.  The whole parse is a single narrow projection —
    pushdown-friendly and shuffle-free.

    r10 construction-cost note: the projection ships as ONE
    ``selectExpr`` call — building 128 ``F.substring(...)`` Column
    chains for the .dly layout cost ~640 py4j round trips per
    construction (cProfile: 3.2 s of pipeline_weather_e2e's 4.5 s
    profiled ctor inside read_fixed_width); the SQL strings parse
    JVM-side to the identical expression tree (trim(substring) → cast
    → alias)."""
    text = spark.read.text(path)
    exprs = [
        f"CAST(trim(substring(value, {start}, {length})) AS {dtype}) AS `{name}`"
        for name, start, length, dtype in spec
    ]
    return text.selectExpr(*exprs)


def read_stations(spark: SparkSession, path: str) -> DataFrame:
    return read_fixed_width(spark, path, STATIONS_SPEC)


def dly_spec() -> list[tuple[str, int, int, str]]:
    """GHCN .dly layout: ID(11) YEAR(4) MONTH(2) ELEMENT(4), then 31 ×
    [VALUE(5) MFLAG(1) QFLAG(1) SFLAG(1)] (ETL.py:101-120 equivalent)."""
    spec = [
        ("ID", 1, 11, "string"),
        ("YEAR", 12, 4, "int"),
        ("MONTH", 16, 2, "int"),
        ("ELEMENT", 18, 4, "string"),
    ]
    pos = 22
    for day in range(1, 32):
        spec.append((f"VALUE{day}", pos, 5, "double"))
        spec.append((f"MFLAG{day}", pos + 5, 1, "string"))
        spec.append((f"QFLAG{day}", pos + 6, 1, "string"))
        spec.append((f"SFLAG{day}", pos + 7, 1, "string"))
        pos += 8
    return spec


def read_dly(spark: SparkSession, path_glob: str) -> DataFrame:
    """All .dly files in one scan (the reference loops file-by-file and
    writes per-station CSVs; the DataFrame IS the converted table)."""
    return read_fixed_width(spark, path_glob, dly_spec())
