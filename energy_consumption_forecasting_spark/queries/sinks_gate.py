"""S7 sink gate: hive-partitioned parquet write → pruned read-back.

r1 left the parquet/CSV sink (SURVEY §2.1 S7) exercised only in pytest.
This registers the full write path on the gate: the query writes the
documents table to a hive-partitioned directory (``lang=<v>/``), reads
it back through the partition-discovery scan with a partition filter,
and the oracle computes the same projection+filter from the ORIGINAL
table — so a pass proves the sink round-trips every value bit-exactly
AND that partition values survive the directory-encoding round-trip.

Scale: partitioned writes are the 100-TB layout primitive (one
directory per partition value, each file append-only); the read-back
filter prunes to matching directories before any IO
(``PartitionFilters`` in the scan node — asserted in
tests/test_round2_ops.py, not just eyeballed).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ._util import STAGE_DIR, tbl

SINK_DIR = f"{STAGE_DIR}/s7_partitioned"


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """S7 partitioned parquet sink (overwrite)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


@query(
    "s7_partitioned_sink_roundtrip",
    oracle="""
    SELECT doc_id, source, n_chars, text, lang
    FROM documents
    WHERE lang IN ('en', 'de')
    """,
)
def s7_partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents partitioned by ``lang``, read back only the
    ``en``/``de`` directories.  The oracle never sees the sink — equality
    means the write+partition-discovery+prune path preserved the data."""
    docs = tbl(spark, sf_dir, "documents")
    # per-SF subdir: the gate and tests run at different SFs; never let
    # one SF's sink satisfy another's read-back.
    path = f"{SINK_DIR}/{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(path, ignore_errors=True)
    write_partitioned(docs, path, ["lang"])
    back = spark.read.parquet(path).filter(F.col("lang").isin("en", "de"))
    # partition columns come back typed as read; cast to the original
    # string type explicitly so the schema comparison is exact.
    return back.select(
        "doc_id", "source", "n_chars", "text", F.col("lang").cast("string").alias("lang")
    )


@query(
    "s10_snapshot_time_travel",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents WHERE lang = 'en'
    """,
)
def s10_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned sink (sources/versioned.py): commit v1 = the
    English slice, then v2 = the full table, then time-travel read
    v1.  Matching the oracle's English-only result proves the AS-OF
    read returns the superseded snapshot, not the latest one."""
    import shutil

    from ..sources.versioned import commit_snapshot, read_snapshot

    table = f"{SINK_DIR}_tt/{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(table, ignore_errors=True)
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    v1 = commit_snapshot(docs.filter(F.col("lang") == "en"), table, "en slice")
    commit_snapshot(docs, table, "full table")
    return read_snapshot(spark, table, version=v1)


@query(
    "s11_schema_evolution",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
    FROM documents
    """,
)
def s11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: an old writer produced (doc_id, lang),
    a newer one added n_chars; ``mergeSchema`` unifies the footers and
    back-fills the missing column with NULL.  The oracle derives the
    same even/odd split from the original table — equality proves the
    evolved read loses nothing and invents nothing."""
    import shutil

    docs = tbl(spark, sf_dir, "documents")
    path = f"{SINK_DIR}_evo/{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(path, ignore_errors=True)
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.parquet(
        f"{path}/gen1"
    )
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    ).write.parquet(f"{path}/gen2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{path}/gen1", f"{path}/gen2")
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "s13_manifest_skipping",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS od,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01'
                                        AND DATE '1997-12-31'
    GROUP BY 1
    """,
)
def s13_manifest_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats data skipping (sources/versioned.py): commit the
    orders table range-clustered on order date with per-file min/max
    recorded in the manifest (read from parquet FOOTERS at commit — the
    Iceberg/Delta recipe), then answer a one-year band query reading
    only the overlapping files.  The oracle computes the same band from
    the ORIGINAL table, so a pass proves skipping is loss-free; that it
    actually skips files is asserted in tests/test_versioned_sink.py.

    At 100 TB this is the difference between a full-table scan and
    touching ~1/Nth of the files for any clustered-predicate query —
    the manifest consult costs one JSON read, no footer IO at query
    time."""
    import shutil

    from ..sources.versioned import (
        commit_snapshot_with_stats,
        read_snapshot_pruned,
    )

    table = f"{SINK_DIR}_skip/{os.path.basename(sf_dir.rstrip('/'))}"
    shutil.rmtree(table, ignore_errors=True)
    orders = tbl(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("od"), "o_totalprice"
    )
    commit_snapshot_with_stats(orders, table, stats_cols=["od"], cluster_files=4)
    df, _read, _total = read_snapshot_pruned(
        spark, table, "od", "1997-01-01", "1997-12-31"
    )
    return (
        df.filter(F.col("od").between("1997-01-01", "1997-12-31"))
        .groupBy("od")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# --- snapshot time-travel diff ------------------------------------------------------
DIFF_DIR = f"{STAGE_DIR}/s15_snapdiff"


@query(
    "s15_snapshot_diff",
    oracle=f"""
    WITH v1 AS (SELECT * FROM read_parquet('{DIFF_DIR}/SFB/v=1/*.parquet')),
    v2 AS (SELECT * FROM read_parquet('{DIFF_DIR}/SFB/v=2/*.parquet'))
    SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           v1.n_chars AS old_n_chars,
           v2.n_chars AS new_n_chars
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL
       OR v1.n_chars <> v2.n_chars
    """,
)
def s15_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel DIFF between two committed snapshots — the audit
    query every versioned table needs ("what changed between v1 and
    v2?").  Two deterministic snapshots of the documents table are
    committed through the versioned sink (v1 = docs with doc_id % 3
    != 0; v2 = every doc, with n_chars doubled for doc_id % 5 == 0),
    then diffed AS-OF v1 vs AS-OF v2 with a full outer join keyed on
    doc_id — added / removed / changed rows.  The oracle reads the
    same snapshot directories straight off disk, so both the manifest
    resolution and the diff algebra are verified.

    Scale: the diff is one key-equi full outer join between two
    snapshot scans — shuffle on the join key only; for partitioned
    tables the join prunes to changed partitions first."""
    from ..sources.versioned import commit_snapshot, read_snapshot, versions

    tag = "SFB"  # fixed dir: oracle references literal paths
    table = os.path.join(DIFF_DIR, tag)
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # idempotent: rebuild the two snapshots deterministically per run
    shutil.rmtree(table, ignore_errors=True)
    commit_snapshot(
        docs.filter(F.col("doc_id") % 3 != 0), table, note="v1 base"
    )
    commit_snapshot(
        docs.withColumn(
            "n_chars",
            F.when(
                F.col("doc_id") % 5 == 0, F.col("n_chars") * 2
            ).otherwise(F.col("n_chars")),
        ),
        table,
        note="v2 restatement",
    )
    assert versions(table) == [1, 2]
    v1 = read_snapshot(spark, table, version=1).select(
        F.col("doc_id").alias("id1"), F.col("n_chars").alias("old_n_chars")
    )
    v2 = read_snapshot(spark, table, version=2).select(
        F.col("doc_id").alias("id2"), F.col("n_chars").alias("new_n_chars")
    )
    joined = v1.join(v2, v1.id1 == v2.id2, "full_outer")
    return joined.filter(
        F.col("id1").isNull()
        | F.col("id2").isNull()
        | (F.col("old_n_chars") != F.col("new_n_chars"))
    ).select(
        F.coalesce("id1", "id2").alias("doc_id"),
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .otherwise("changed")
        .alias("change"),
        "old_n_chars",
        "new_n_chars",
    )


# --- S21: merge-on-read deletion vectors --------------------------------------------
DV_DIR = f"{STAGE_DIR}/s21_deletion_vectors"


@query(
    "s21_deletion_vectors",
    oracle="""
    SELECT CAST(p_partkey AS BIGINT) AS partkey, p_name,
           CAST(p_size AS INT) AS size,
           CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS retail_c
    FROM part
    WHERE NOT (p_size < 10)
      AND NOT (CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               < 91000)
    """,
)
def s21_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via position-delete files (Iceberg v2 /
    deletion-vector pattern, sources/versioned.py::delete_where): the
    part table is committed as a snapshot, two successive DELETEs write
    only (file, row_index) delete files — data files are never
    rewritten — and the read-back anti-joins the accumulated deletes.
    The oracle computes the surviving rows from the ORIGINAL table, so a
    pass proves the position bookkeeping is lossless (rows need not be
    unique for positions to be — the delete key is physical, not
    semantic).  Time-travel to the pre-delete version is pytest-covered
    (tests/test_versioned_sink.py)."""
    import shutil

    from ..sources.versioned import commit_snapshot, delete_where, read_snapshot

    name = os.path.basename(sf_dir.rstrip("/"))
    table = f"{DV_DIR}/{name}"
    shutil.rmtree(table, ignore_errors=True)
    part = tbl(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"),
        "p_name",
        F.col("p_size").cast("int").alias("size"),
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("retail_c"),
    )
    commit_snapshot(part, table, note="base")
    delete_where(spark, table, "size < 10", note="small parts")
    delete_where(spark, table, "retail_c < 91000", note="cheap parts")
    return read_snapshot(spark, table)


# --- S22: merge-on-read UPSERT (MERGE INTO shape) -----------------------------------
@query(
    "s22_upsert_merge",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c
      FROM customer
    ),
    upd AS (
      SELECT k, 'VIP' AS seg, bal_c FROM base WHERE bal_c > 500000
      UNION ALL
      SELECT k + 10000000, 'NEW', CAST(0 AS BIGINT) FROM base
      WHERE k % 97 = 0
    )
    SELECT k, seg, bal_c FROM base
    WHERE k NOT IN (SELECT k FROM upd)
    UNION ALL
    SELECT k, seg, bal_c FROM upd
    """,
)
def s22_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPSERT (sources/versioned.py::merge_upsert — the
    MERGE INTO WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT shape):
    one atomic version adds a position-delete file for matched keys AND
    an appended data directory, no existing file rewritten.  The gate
    upserts VIP rows for high-balance customers plus brand-new keys and
    proves the read-back equals the SQL merge of the ORIGINAL table."""
    import shutil

    from ..sources.versioned import commit_snapshot, merge_upsert, read_snapshot

    name = os.path.basename(sf_dir.rstrip("/"))
    table = f"{STAGE_DIR}/s22_upsert/{name}"
    shutil.rmtree(table, ignore_errors=True)
    base = tbl(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_c"),
    )
    commit_snapshot(base, table, note="base")
    upd = base.filter(F.col("bal_c") > 500000).select(
        "k", F.lit("VIP").alias("seg"), "bal_c"
    ).unionByName(
        base.filter(F.col("k") % 97 == 0).select(
            (F.col("k") + 10_000_000).alias("k"),
            F.lit("NEW").alias("seg"),
            F.lit(0).cast("long").alias("bal_c"),
        )
    )
    merge_upsert(spark, table, upd, ["k"])
    return read_snapshot(spark, table)
