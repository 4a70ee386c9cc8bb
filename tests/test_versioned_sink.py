"""Snapshot-versioned sink: commit/read/time-travel semantics."""

from __future__ import annotations

import pytest

from energy_consumption_forecasting_spark.sources.versioned import (
    commit_snapshot,
    read_snapshot,
    versions,
)


def test_commit_read_time_travel(spark, tmp_path):
    table = str(tmp_path / "versioned_test")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(9).withColumnRenamed("id", "k")
    v1 = commit_snapshot(df1, table, "five")
    v2 = commit_snapshot(df2, table, "nine")
    assert (v1, v2) == (1, 2)
    assert versions(table) == [1, 2]
    assert read_snapshot(spark, table).count() == 9  # latest
    assert read_snapshot(spark, table, version=1).count() == 5  # AS OF
    with pytest.raises(ValueError, match="version 7"):
        read_snapshot(spark, table, version=7)


def test_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "none"))


def test_vacuum_keeps_recent_versions(spark, tmp_path):
    import os

    from energy_consumption_forecasting_spark.sources.versioned import vacuum

    t = str(tmp_path / "vac")
    for n in (3, 4, 5, 6):
        commit_snapshot(spark.range(n), t)
    assert versions(t) == [1, 2, 3, 4]
    dropped = vacuum(t, keep_last=2)
    assert dropped == [1, 2]
    assert versions(t) == [3, 4]
    assert read_snapshot(spark, t).count() == 6  # latest intact
    assert read_snapshot(spark, t, version=3).count() == 5
    assert not os.path.exists(f"{t}/v=1")
    with pytest.raises(ValueError):
        read_snapshot(spark, t, version=1)
    assert vacuum(t, keep_last=5) == []  # nothing to drop


def test_manifest_skipping_prunes_files_and_is_lossless(spark, tmp_path):
    """The band read must (a) skip at least one file via manifest stats
    and (b) return exactly the rows a full-scan filter returns."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.sources.versioned import (
        commit_snapshot_with_stats,
        read_snapshot,
        read_snapshot_pruned,
    )
    from energy_consumption_forecasting_spark.tables import load_table

    table = str(tmp_path / "test_manifest_skip")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        F.to_date("o_orderdate").alias("od"), "o_orderkey"
    )
    commit_snapshot_with_stats(orders, table, stats_cols=["od"], cluster_files=4)

    lo, hi = "1997-01-01", "1997-12-31"
    pruned, files_read, files_total = read_snapshot_pruned(
        spark, table, "od", lo, hi
    )
    assert files_total == 4
    assert 0 < files_read < files_total  # actually skipped something

    got = sorted(
        r["o_orderkey"]
        for r in pruned.filter(F.col("od").between(lo, hi)).collect()
    )
    want = sorted(
        r["o_orderkey"]
        for r in read_snapshot(spark, table)
        .filter(F.col("od").between(lo, hi))
        .collect()
    )
    assert got == want and len(got) > 0


def test_manifest_skipping_empty_band_keeps_schema(spark, tmp_path):
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.sources.versioned import (
        commit_snapshot_with_stats,
        read_snapshot_pruned,
    )
    from energy_consumption_forecasting_spark.tables import load_table

    table = str(tmp_path / "test_manifest_skip_empty")
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        F.to_date("o_orderdate").alias("od"), "o_orderkey"
    )
    commit_snapshot_with_stats(orders, table, stats_cols=["od"], cluster_files=3)
    df, files_read, files_total = read_snapshot_pruned(
        spark, table, "od", "2050-01-01", "2050-12-31"
    )
    assert files_read == 0 and files_total == 3
    assert df.count() == 0
    assert set(df.columns) == {"od", "o_orderkey"}


def test_deletion_vectors_merge_on_read(spark, tmp_path):
    """delete_where commits position-delete files only: data files are
    untouched, reads anti-join them out, time travel still sees the
    pre-delete content, and duplicates are deleted by POSITION (a
    value-keyed delete could not tell two identical rows apart)."""
    import glob
    import os

    from energy_consumption_forecasting_spark.sources.versioned import (
        delete_where,
    )

    table = str(tmp_path / "dv")
    # duplicate rows on purpose: k=3 appears twice
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (3, "c"), (4, "d")], "k int, s string"
    )
    commit_snapshot(df, table, "base")
    files_before = sorted(glob.glob(os.path.join(table, "v=1", "*.parquet")))
    v2 = delete_where(spark, table, "k = 2")
    v3 = delete_where(spark, table, "k = 3")  # deletes BOTH duplicates
    assert (v2, v3) == (2, 3)
    # data files are byte-identical (merge-on-read: no rewrite)
    assert sorted(glob.glob(os.path.join(table, "v=1", "*.parquet"))) == (
        files_before
    )
    got = sorted((r["k"], r["s"]) for r in read_snapshot(spark, table).collect())
    assert got == [(1, "a"), (4, "d")]
    # intermediate version: only the first delete applied
    mid = sorted(
        (r["k"], r["s"]) for r in read_snapshot(spark, table, version=2).collect()
    )
    assert mid == [(1, "a"), (3, "c"), (3, "c"), (4, "d")]
    # time travel to the base still sees everything
    assert read_snapshot(spark, table, version=1).count() == 5


def test_deletion_vectors_vacuum_shares_base_dir(spark, tmp_path):
    """vacuum must NOT remove the base data directory while a surviving
    delete-version still references it."""
    import os

    from energy_consumption_forecasting_spark.sources.versioned import (
        delete_where,
        vacuum,
    )

    table = str(tmp_path / "dvvac")
    commit_snapshot(
        spark.createDataFrame([(i,) for i in range(10)], "k int"), table, "base"
    )
    delete_where(spark, table, "k >= 8")
    # keep only the delete-version; its base dir v=1 must survive
    dropped = vacuum(table, keep_last=1)
    assert dropped == [1]
    assert os.path.isdir(os.path.join(table, "v=1"))
    assert read_snapshot(spark, table).count() == 8


def test_deletion_vectors_randomized_predicate_sequence(spark, tmp_path):
    """Randomized: any sequence of delete_where predicates must leave
    exactly the rows surviving the conjunction of their negations —
    including with duplicate rows and multi-file snapshots."""
    import random

    from energy_consumption_forecasting_spark.sources.versioned import (
        delete_where,
    )

    rng = random.Random(99)
    for trial in range(3):
        table = str(tmp_path / f"dvprop{trial}")
        rows = [
            (rng.randrange(20), rng.randrange(5)) for _ in range(120)
        ]  # duplicates guaranteed
        df = spark.createDataFrame(rows, "k int, g int").repartition(4)
        commit_snapshot(df, table, "base")
        survivors = list(rows)
        for _ in range(3):
            thr = rng.randrange(20)
            op = rng.choice(["<", ">=", "=="])
            pred = {"<": f"k < {thr}", ">=": f"k >= {thr}", "==": f"k = {thr}"}[op]
            delete_where(spark, table, pred)
            fn = {
                "<": lambda r: r[0] < thr,
                ">=": lambda r: r[0] >= thr,
                "==": lambda r: r[0] == thr,
            }[op]
            survivors = [r for r in survivors if not fn(r)]
        got = sorted((r["k"], r["g"]) for r in read_snapshot(spark, table).collect())
        assert got == sorted(survivors), trial


def test_merge_upsert_update_insert_chain(spark, tmp_path):
    """merge_upsert replaces matched keys, inserts new ones, chains
    with prior deletes and a second upsert (updating a row the first
    upsert inserted), keeps time travel, and survives vacuum."""
    import os

    from energy_consumption_forecasting_spark.sources.versioned import (
        delete_where,
        merge_upsert,
        vacuum,
    )

    table = str(tmp_path / "upsert")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k int, s string"
    )
    commit_snapshot(base, table, "base")
    delete_where(spark, table, "k = 4")
    # upsert: update k=2, insert k=9
    merge_upsert(
        spark,
        table,
        spark.createDataFrame([(2, "B2"), (9, "I9")], "k int, s string"),
        ["k"],
    )
    got = sorted((r["k"], r["s"]) for r in read_snapshot(spark, table).collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c"), (9, "I9")]
    # second upsert touches a row the FIRST upsert appended
    merge_upsert(
        spark,
        table,
        spark.createDataFrame([(9, "I9v2")], "k int, s string"),
        ["k"],
    )
    got = sorted((r["k"], r["s"]) for r in read_snapshot(spark, table).collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c"), (9, "I9v2")]
    # time travel: pre-upsert version still shows the delete-only state
    assert sorted(
        (r["k"], r["s"]) for r in read_snapshot(spark, table, version=2).collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]
    # vacuum to the newest version only; shared base + append dirs survive
    vacuum(table, keep_last=1)
    got = sorted((r["k"], r["s"]) for r in read_snapshot(spark, table).collect())
    assert got == [(1, "a"), (2, "B2"), (3, "c"), (9, "I9v2")]
    assert os.path.isdir(os.path.join(table, "v=1"))


def test_merge_upsert_rejects_duplicate_update_keys(spark, tmp_path):
    """MERGE INTO semantics: two source rows matching one key is an
    error, not a silent duplicate-row append (round-6 advice)."""
    from energy_consumption_forecasting_spark.sources.versioned import (
        merge_upsert,
    )

    table = str(tmp_path / "dupkeys")
    commit_snapshot(
        spark.createDataFrame([(1, "a")], "k int, s string"), table, "base"
    )
    dup = spark.createDataFrame(
        [(1, "first"), (1, "second")], "k int, s string"
    )
    with pytest.raises(ValueError, match="multiple rows for key"):
        merge_upsert(spark, table, dup, ["k"])
    # the failed merge must not have committed anything
    assert versions(table) == [1]
    assert read_snapshot(spark, table).count() == 1
    # a NULL-key row in an otherwise key-unique batch is NOT a
    # duplicate (count_distinct would have dropped it and rejected a
    # valid merge — review catch); the null-key row inserts as-is
    ok = spark.createDataFrame(
        [(2, "b"), (None, "nullkey")], "k int, s string"
    )
    merge_upsert(spark, table, ok, ["k"])
    got = sorted(
        [(r["k"], r["s"]) for r in read_snapshot(spark, table).collect()],
        key=lambda t: (t[0] is None, t[0] or 0, t[1]),
    )
    assert got == [(1, "a"), (2, "b"), (None, "nullkey")]
    # but two NULL-key rows ARE duplicates of the NULL group
    dup_null = spark.createDataFrame(
        [(None, "x"), (None, "y")], "k int, s string"
    )
    with pytest.raises(ValueError, match="multiple rows for key"):
        merge_upsert(spark, table, dup_null, ["k"])


def test_stats_commit_failure_publishes_no_version(spark, tmp_path, monkeypatch):
    """commit_snapshot_with_stats publishes its manifest entry once,
    stats included: a failure while reading the footers leaves the
    table's versions unchanged instead of exposing a version that has
    no stats."""
    from energy_consumption_forecasting_spark.sources import versioned

    table = str(tmp_path / "stats_fail")
    commit_snapshot(spark.range(3).withColumnRenamed("id", "k"), table)

    def fail(*_args, **_kw):
        raise OSError("footer read failed")

    monkeypatch.setattr(versioned, "_file_stats", fail)
    with pytest.raises(OSError, match="footer read failed"):
        versioned.commit_snapshot_with_stats(
            spark.range(6).withColumnRenamed("id", "k"),
            table,
            stats_cols=["k"],
            cluster_files=2,
        )
    assert versions(table) == [1]
