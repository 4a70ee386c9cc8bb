"""Z-order (Morton) data-layout clustering — multi-dimensional skipping.

Single-column sort gives min/max file skipping on one predicate column
only.  Interleaving the bits of two keys (Morton / Z-order curve) and
range-partitioning on the interleaved code co-locates rows that are
close in BOTH dimensions, so parquet min/max stats prune scans for
predicates on either key — the technique behind Delta/Iceberg OPTIMIZE
ZORDER, implemented here as a plain column expression.

The gate query computes the 20-bit Morton code over
(customer-key mod 1024, epoch-day mod 1024) for every order, buckets by
the code's top 12 bits (4096 layout cells ≙ target files), and emits the
per-bucket bounding box in both dimensions.  Bounded per-bucket spans
ARE the data-skipping property: a predicate on either dimension touches
only buckets whose box intersects it.  All arithmetic is integer
bit-twiddling — bit-identical on any engine, so the oracle hash is
strict.

Scale: the code is a row-local projection (no shuffle); the layout
itself would be one ``repartitionByRange(zcode)`` + sorted write.  The
summary is a hash agg on the bucket id — map-side combinable, 4096
groups regardless of table size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ._util import tbl

BITS = 10  # bits per dimension -> 20-bit code
BUCKET_SHIFT = 8  # keep top 12 bits -> 4096 buckets


def morton_code(x: Column, y: Column) -> Column:
    """Interleave the low ``BITS`` of x (even positions) and y (odd)."""
    out = F.lit(0).cast("long")
    for i in range(BITS):
        out = out + F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
        out = out + F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1)
    return out


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@query(
    "scale_zorder_layout",
    oracle=f"""
    WITH keyed AS (
      SELECT o_custkey % 1024 AS xk,
             (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 1024 AS yk
      FROM orders
    ),
    coded AS (
      SELECT xk, yk, {_morton_sql('xk', 'yk')} AS zcode
      FROM keyed
    )
    SELECT CAST(zcode >> {BUCKET_SHIFT} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(xk) AS BIGINT) AS x_min, CAST(MAX(xk) AS BIGINT) AS x_max,
           CAST(MIN(yk) AS BIGINT) AS y_min, CAST(MAX(yk) AS BIGINT) AS y_max,
           CAST((MAX(xk) - MIN(xk) + 1) * (MAX(yk) - MIN(yk) + 1) AS BIGINT)
             AS bbox_area
    FROM coded GROUP BY 1
    """,
)
def scale_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket bounding boxes of the Z-order layout over
    (custkey mod 1024, epoch-day mod 1024).  ``bbox_area`` ≤ 2^BUCKET_SHIFT
    cells for every bucket — the locality guarantee min/max skipping
    relies on (a linear layout on either single key would leave the
    OTHER dimension's span unbounded)."""
    keyed = tbl(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1024).alias("xk"),
        (
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")) % 1024
        ).alias("yk"),
    )
    coded = keyed.select(
        "xk", "yk", morton_code(F.col("xk"), F.col("yk")).alias("zcode")
    )
    return coded.groupBy(
        F.shiftright("zcode", BUCKET_SHIFT).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("xk").cast("long").alias("x_min"),
        F.max("xk").cast("long").alias("x_max"),
        F.min("yk").cast("long").alias("y_min"),
        F.max("yk").cast("long").alias("y_max"),
        ((F.max("xk") - F.min("xk") + 1) * (F.max("yk") - F.min("yk") + 1))
        .cast("long")
        .alias("bbox_area"),
    )


# --- Hilbert-curve layout (the locality-better sibling of Z-order) -------------------
# Hilbert d-index via the classic per-bit rotate-and-reflect recurrence
# (Wikipedia xy2d; Hilbert 1891): unlike Morton interleaving, every
# consecutive pair of curve positions is GRID-ADJACENT, so equal-sized
# curve ranges cover tighter bounding boxes — the property behind
# Databricks' liquid-clustering-style layouts preferring Hilbert over
# Z-order.  The recurrence is stateful per bit (x/y rotate), so both
# engines evaluate the SAME 10-stage integer recurrence over
# ``_hilbert_stages``: an int64 NumPy kernel on the Spark side and a
# DuckDB materialized-CTE chain for the oracle (AS MATERIALIZED per
# stage because each stage references its predecessor ~4x and plain
# CTE inlining would expand 4^10-fold — the graph_kcore lesson).
_HN = 1 << BITS  # 1024x1024 grid


def _hilbert_stages() -> list[int]:
    return [1 << i for i in range(BITS - 1, -1, -1)]


def hilbert_code_arrow(df, x_col: str, y_col: str):
    """Attach ``hcode`` = Hilbert d-index of (x_col, y_col): the per-bit
    rotate-reflect recurrence vectorized over rows with int64 NumPy
    (r10, guide §4.2), pinned cell-for-cell by tests/test_scale_ops.py
    against the textbook xy2d reference.

    Why a kernel: the unrolled JVM form is 2·BITS chained projections
    — cheap to EXECUTE (whole-stage codegen) but expensive to BUILD:
    ~0.9 s of py4j + Catalyst analysis per construction (each of the
    20 projections re-analyzes the growing plan), re-paid on every
    bench rep.  The kernel is one plan node."""
    import numpy as np
    import pyarrow as pa

    keep = list(df.schema.fields)
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keep
    ) + ", hcode long"
    stages = _hilbert_stages()

    def _run(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ix = {name: j for j, name in enumerate(b.schema.names)}
            x = b.column(ix[x_col]).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            y = b.column(ix[y_col]).to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            d = np.zeros(n, dtype=np.int64)
            for s in stages:
                shift = s.bit_length() - 1
                rx = (x >> shift) & 1
                ry = (y >> shift) & 1
                d += (s * s) * ((3 * rx) ^ ry)
                nx = np.where(ry == 1, x, np.where(rx == 1, (_HN - 1) - y, y))
                ny = np.where(ry == 1, y, np.where(rx == 1, (_HN - 1) - x, x))
                x, y = nx, ny
            yield pa.RecordBatch.from_arrays(
                [b.column(ix[f.name]) for f in keep]
                + [pa.array(d, type=pa.int64())],
                names=[f.name for f in keep] + ["hcode"],
            )

    return df.mapInArrow(_run, ddl)


def _hilbert_sql(x: str, y: str) -> str:
    """DuckDB CTE chain computing the identical recurrence; expects a
    CTE named ``keyed`` providing columns ``{x}`` and ``{y}``; yields a
    final CTE ``hil`` with (xk, yk, hcode)."""
    parts = [
        f"h AS MATERIALIZED (SELECT {x} AS xk, {y} AS yk, {x} AS hx,"
        f" {y} AS hy, CAST(0 AS BIGINT) AS hd FROM keyed)"
    ]
    prev = "h"
    for idx, s in enumerate(_hilbert_stages()):
        shift = s.bit_length() - 1
        nxt = f"h{idx}"
        parts.append(
            f"""{nxt} AS MATERIALIZED (
      SELECT xk, yk,
             CASE WHEN ((hy >> {shift}) & 1) = 1 THEN hx
                  WHEN ((hx >> {shift}) & 1) = 1 THEN {_HN - 1} - hy
                  ELSE hy END AS hx,
             CASE WHEN ((hy >> {shift}) & 1) = 1 THEN hy
                  WHEN ((hx >> {shift}) & 1) = 1 THEN {_HN - 1} - hx
                  ELSE hx END AS hy,
             hd + {s * s} * xor(3 * ((hx >> {shift}) & 1),
                                ((hy >> {shift}) & 1)) AS hd
      FROM {prev})"""
        )
        prev = nxt
    parts.append(f"hil AS (SELECT xk, yk, hd AS hcode FROM {prev})")
    return ",\n    ".join(parts)


@query(
    "scale_hilbert_layout",
    oracle=f"""
    WITH keyed AS (
      SELECT o_custkey % 1024 AS xk0,
             (CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 1024 AS yk0
      FROM orders
    ),
    {_hilbert_sql('xk0', 'yk0')}
    SELECT CAST(hcode >> {BUCKET_SHIFT} AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(xk) AS BIGINT) AS x_min, CAST(MAX(xk) AS BIGINT) AS x_max,
           CAST(MIN(yk) AS BIGINT) AS y_min, CAST(MAX(yk) AS BIGINT) AS y_max,
           CAST((MAX(xk) - MIN(xk) + 1) * (MAX(yk) - MIN(yk) + 1) AS BIGINT)
             AS bbox_area
    FROM hil GROUP BY 1
    """,
)
def scale_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket bounding boxes of the HILBERT layout over the same
    (custkey mod 1024, epoch-day mod 1024) grid as scale_zorder_layout
    — directly comparable bucket stats, and the adjacency property
    makes Hilbert ranges' boxes tighter on average than Morton's
    (pinned by tests/test_scale_ops.py's layout comparison).  Entirely
    row-local integer algebra + one 4096-key aggregate."""
    keyed = tbl(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 1024).alias("xk"),
        (
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")) % 1024
        ).alias("yk"),
    )
    coded = hilbert_code_arrow(keyed, "xk", "yk")
    return coded.groupBy(
        F.shiftright("hcode", BUCKET_SHIFT).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("xk").cast("long").alias("x_min"),
        F.max("xk").cast("long").alias("x_max"),
        F.min("yk").cast("long").alias("y_min"),
        F.max("yk").cast("long").alias("y_max"),
        ((F.max("xk") - F.min("xk") + 1) * (F.max("yk") - F.min("yk") + 1))
        .cast("long")
        .alias("bbox_area"),
    )
