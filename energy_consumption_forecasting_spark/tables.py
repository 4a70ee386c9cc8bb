"""Testdata table access.

``load_table(spark, sf_dir, name)`` is the single scan entry point for the
star-schema testdata; reading Parquet directly keeps Catalyst's column
pruning and predicate pushdown intact (check ``PushedFilters`` in
``df.explain``).

Timestamp contract (the round-2 lesson): the driver regenerates the
testdata between rounds and the physical type of ``events.ts`` has
changed once already (parquet TIMESTAMP(NANOS) in round 1, plain
``timestamp[us]`` since round 2).  Nothing downstream may assume a
physical type — ``load_events`` probes the parquet footer with pyarrow
(one driver-side footer read, no scan) and adapts:

* ``timestamp[ns]`` (no tz) — Spark's vectorized reader rejects
  TIMESTAMP(NANOS); enable ``nanosAsLong``, read the raw int64, rebuild
  a micros timestamp with exact integer arithmetic (no double
  round-trip — 1e18 ns overflows a 53-bit mantissa).
* ``timestamp[us|ms|s]`` without tz — Spark infers TIMESTAMP_NTZ; cast
  to TIMESTAMP (sessions run with ``spark.sql.session.timeZone=UTC``,
  so the wall clock is preserved and downstream date arithmetic is
  unchanged).
* ``timestamp`` with tz — already TIMESTAMP; pass through.
* plain ``int64`` — the historical contract was epoch nanos; rebuild.

Engine-facing invariant (pinned by tests/test_testdata_contract.py):
``load_table(...).schema["ts"]`` is always TimestampType regardless of
what the files hold.
"""

from __future__ import annotations

import glob as _glob
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def probe_arrow_schema(path: str):
    """Arrow schema of a parquet file or directory-of-part-files.

    Footer-only read on the driver — O(KB), no data scan.  For a
    directory, the first part file is taken as representative (Spark's
    own schema inference does the same unless mergeSchema is set).
    """
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(_glob.glob(os.path.join(path, "*.parquet"))) or sorted(
            _glob.glob(os.path.join(path, "part-*"))
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        return pq.read_schema(parts[0])
    return pq.read_schema(path)


def _ts_kind(arrow_type) -> str:
    """Classify an arrow type for timestamp normalization.

    Returns one of ``nanos`` (TIMESTAMP(NANOS), needs the long-read
    workaround), ``ntz`` (micro/milli/second timestamp without tz),
    ``tz`` (instant-semantics timestamp), ``long`` (raw int64 —
    historical epoch-nanos contract), ``other``.
    """
    import pyarrow as pa

    if pa.types.is_timestamp(arrow_type):
        if arrow_type.unit == "ns" and arrow_type.tz is None:
            return "nanos"
        return "tz" if arrow_type.tz is not None else "ntz"
    if pa.types.is_int64(arrow_type):
        return "long"
    return "other"


def _footer_spark_schema(path: str, ts_as_long: bool = False):
    """Spark read schema derived DRIVER-SIDE from the parquet footer —
    supplying it to ``spark.read.schema(...)`` removes the
    schema-inference Spark job that ``spark.read.parquet`` otherwise
    launches per call (round-6 rule: constructing a query runs zero
    jobs).  ``prefer_timestamp_ntz=True`` mirrors Spark 4's parquet
    inference (``spark.sql.parquet.inferTimestampNTZ``), pinned equal
    to the engine's own inference for every testdata table by
    tests/test_testdata_contract.py.  Returns None when the footer
    types don't convert (future physical-type drift) — callers then
    fall back to plain inference, trading one job for resilience."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema

    try:
        schema = from_arrow_schema(
            probe_arrow_schema(path), prefer_timestamp_ntz=True
        )
    except Exception:
        return None
    if ts_as_long:
        schema = T.StructType(
            [
                T.StructField("ts", T.LongType(), f.nullable)
                if f.name == "ts"
                else f
                for f in schema.fields
            ]
        )
    return schema


def _read_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Type-adaptive events scan — see module docstring for the contract."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    kind = _ts_kind(probe_arrow_schema(path).field("ts").type)
    if kind == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path, _footer_spark_schema(path, ts_as_long=True))
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df = _read_parquet(spark, path, _footer_spark_schema(path))
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _part_footers(path: str):
    """The footer probe behind ``scan_is_narrow``, ``footer_row_count``
    and ``footer_bytes``: a lazy iterator over the parquet footer
    metadata of each part file of ``path``, read on the driver, or
    None when the path cannot be probed.

    Only a local path (no scheme, or ``file:``) whose part files list
    flat is probed.  Remote schemes, nested or Hive-partitioned
    directories and missing paths give None."""
    import pyarrow.parquet as pq

    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = url.path if url.scheme else path
    if os.path.isdir(local):
        entries = [
            os.path.join(local, e)
            for e in sorted(os.listdir(local))
            if not e.startswith(("_", "."))
        ]
        if not entries or any(os.path.isdir(e) for e in entries):
            return None
    elif os.path.isfile(local):
        entries = [local]
    else:
        return None
    return (pq.read_metadata(f) for f in entries)


def scan_is_narrow(path: str, target: int) -> bool:
    """Whether a parquet scan of ``path`` runs on fewer than ``target``
    tasks, read from the footers alone.

    Spark splits a parquet file by byte range, but every row group is
    read by the one split that holds its midpoint, so the row-group
    count bounds the scan's useful parallelism whatever the split
    size.  The answer is True only for a path ``_part_footers`` can
    probe whose part files hold fewer than ``target`` row groups in
    total; footer reads stop once the count reaches ``target``.
    Unprobeable paths and wide files answer False, and callers then
    leave the scan as Spark splits it."""
    footers = _part_footers(path)
    if footers is None:
        return False
    groups = 0
    for meta in footers:
        groups += meta.num_row_groups
        if groups >= target:
            return False
    return True


def footer_row_count(path: str) -> int | None:
    """Exact row count of a parquet table, summed from the footers of
    its part files on the driver (no job); None when ``_part_footers``
    cannot probe the path."""
    footers = _part_footers(path)
    if footers is None:
        return None
    return sum(meta.num_rows for meta in footers)


def footer_bytes(path: str) -> int | None:
    """Uncompressed size of a parquet table in bytes, summed from the
    row groups in the footers of its part files on the driver (no job);
    None when ``_part_footers`` cannot probe the path."""
    footers = _part_footers(path)
    if footers is None:
        return None
    return sum(
        meta.row_group(i).total_byte_size
        for meta in footers
        for i in range(meta.num_row_groups)
    )


def table_path(sf_dir: str, name: str) -> str:
    """Parquet path of testdata table ``name`` under ``sf_dir``."""
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    if name == "events":
        return load_events(spark, path)
    return _read_parquet(spark, path, _footer_spark_schema(path))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql use)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
