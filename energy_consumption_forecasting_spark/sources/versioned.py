"""Snapshot-versioned parquet sink with time-travel reads.

A minimal lakehouse-table pattern (the idea behind Delta/Iceberg
snapshots, built from parquet + a JSON manifest — no table-format
dependency): every commit writes a NEW data directory plus a manifest
entry; readers resolve a version (or "latest") through the manifest and
scan only that snapshot's files.  Writers never mutate old data, so

* readers are never torn (a half-written commit is invisible until its
  manifest entry lands — the manifest file is replaced atomically);
* any historical version stays queryable ("AS OF" reads);
* storage is append-only, the safe posture for 100 TB pipelines where
  an overwrite bug is unrecoverable.

Concurrency note: one writer at a time (manifest replace is last-wins).
That is the same single-writer contract as a Delta table without a
locking service.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_manifest.json"


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, _MANIFEST)


def _read_manifest(table_dir: str) -> list[dict]:
    p = _manifest_path(table_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        return json.load(f)


def _publish(table_dir: str, manifest: list[dict]) -> None:
    """Atomically replace the manifest: write a temp file, then
    ``os.replace`` it over the live one, so a reader sees either the old
    manifest or the complete new one."""
    tmp = _manifest_path(table_dir) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, _manifest_path(table_dir))


def _commit(
    df: DataFrame, table_dir: str, note: str, stats_cols: list[str] | None
) -> int:
    """Write ``df`` under ``v=<n>/`` and publish its manifest entry ONCE
    — with the per-file footer stats already in it when ``stats_cols``
    is given, so no reader ever sees the version without them."""
    os.makedirs(table_dir, exist_ok=True)
    manifest = _read_manifest(table_dir)
    version = (manifest[-1]["version"] + 1) if manifest else 1
    data_dir = os.path.join(table_dir, f"v={version}")
    df.write.mode("overwrite").parquet(data_dir)
    entry = {
        "version": version,
        "dir": f"v={version}",
        "committed_at": time.time(),
        "note": note,
    }
    if stats_cols is not None:
        entry["files"] = _file_stats(data_dir, stats_cols)
    _publish(table_dir, manifest + [entry])
    return version


def commit_snapshot(df: DataFrame, table_dir: str, note: str = "") -> int:
    """Write ``df`` as the next version of the table; returns the new
    version number.  Data lands under ``v=<n>/`` first; the manifest is
    swapped in atomically afterwards, so concurrent readers either see
    the old table or the complete new one."""
    return _commit(df, table_dir, note, None)


def _resolve(table_dir: str, version: int | None) -> dict:
    """The manifest entry of ``version`` (``None`` → latest)."""
    manifest = _read_manifest(table_dir)
    if not manifest:
        raise FileNotFoundError(f"no committed snapshots under {table_dir}")
    if version is None:
        return manifest[-1]
    matches = [e for e in manifest if e["version"] == version]
    if not matches:
        known = [e["version"] for e in manifest]
        raise ValueError(f"version {version} not in {known}")
    return matches[0]


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: ``version=None`` → latest committed snapshot.

    Merge-on-read: if the snapshot carries position-delete files
    (``delete_where``), the deleted (file, row) positions are
    anti-joined out at read time — the Iceberg v2 / Delta
    deletion-vector pattern, so a DELETE never rewrites data files."""
    entry = _resolve(table_dir, version)
    if not entry.get("deletes"):
        paths = [os.path.join(table_dir, d) for d in _entry_dirs(entry)]
        return spark.read.parquet(*paths)
    return _live_rows(spark, table_dir, entry).drop("__dv_file", "__dv_pos")


def _entry_dirs(entry: dict) -> list[str]:
    """Data directories of a snapshot: multi-dir entries (appends /
    upserts) carry ``dirs``; plain commits carry one ``dir``."""
    return entry.get("dirs") or [entry["dir"]]


def _with_positions(df: DataFrame) -> DataFrame:
    """Attach the physical (file, row-in-file) identity of every row via
    the parquet reader's ``_metadata`` columns — the stable position key
    deletion vectors address (no data column can play this role: rows
    need not be unique)."""
    from pyspark.sql import functions as F

    return df.select(
        "*",
        F.col("_metadata.file_path").alias("__dv_file"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )


def _live_rows(spark: SparkSession, table_dir: str, entry: dict) -> DataFrame:
    """The live rows of snapshot ``entry`` with their positions
    (``_with_positions``): its data directories' rows, anti-joined
    against every position-delete file the snapshot carries."""
    raw = _with_positions(
        spark.read.parquet(
            *[os.path.join(table_dir, d) for d in _entry_dirs(entry)]
        )
    )
    dels = entry.get("deletes") or []
    if not dels:
        return raw
    dv = spark.read.parquet(*[os.path.join(table_dir, d) for d in dels])
    return raw.join(
        dv,
        (raw["__dv_file"] == dv["file_path"]) & (raw["__dv_pos"] == dv["pos"]),
        "left_anti",
    )


def delete_where(
    spark: SparkSession, table_dir: str, predicate: str, note: str = "delete"
) -> int:
    """Merge-on-read DELETE: commit a new version whose data directory
    is the PREVIOUS version's — unchanged — plus one position-delete
    file listing the (file, row_index) pairs of live rows matching
    ``predicate``.  Deletes chain: each new version carries the full
    delete-file list, so reads stay one anti-join regardless of how
    many DELETEs accumulated.

    Cost shape at 100 TB: the DELETE scans once to find positions and
    writes only the delete file — no data rewrite; the read-side
    anti-join keys on (file, pos), the same physical-position idea as
    Iceberg v2 position deletes.  Positions are addressed by the
    reader's absolute file path, so the table directory must not be
    relocated between write and read (same contract as the staged-gate
    sinks on this shared filesystem)."""
    from pyspark.sql import functions as F

    manifest = _read_manifest(table_dir)
    if not manifest:
        raise FileNotFoundError(f"no committed snapshots under {table_dir}")
    last = manifest[-1]
    prior = last.get("deletes") or []
    raw = _live_rows(spark, table_dir, last)
    new_dels = raw.filter(predicate).select(
        F.col("__dv_file").alias("file_path"), F.col("__dv_pos").alias("pos")
    )
    version = last["version"] + 1
    dv_dir = f"dv={version}"
    new_dels.write.mode("overwrite").parquet(os.path.join(table_dir, dv_dir))
    entry = {
        "version": version,
        "dir": last["dir"],  # data files are SHARED with the base version
        "dirs": _entry_dirs(last),
        "committed_at": time.time(),
        "note": note,
        "deletes": prior + [dv_dir],
    }
    _publish(table_dir, manifest + [entry])
    return version


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    note: str = "upsert",
) -> int:
    """Merge-on-read UPSERT (the MERGE INTO ... WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT shape): ONE new version that (a) adds a
    position-delete file covering every live row whose key appears in
    ``updates`` and (b) appends ``updates`` as a new data directory the
    snapshot also references — so matched rows are replaced and new
    keys inserted without rewriting any existing data file, and the
    commit is atomic (the manifest swap publishes delete + append
    together).

    Scale shape: the delete side is one broadcast-or-shuffle semi join
    of the live rows' (file, pos, keys) against the update keys; the
    append is a plain parquet write of the update batch.  Single-writer
    contract as the rest of the store."""
    from pyspark.sql import functions as F

    manifest = _read_manifest(table_dir)
    if not manifest:
        raise FileNotFoundError(f"no committed snapshots under {table_dir}")
    last = manifest[-1]
    prior = last.get("deletes") or []
    raw = _live_rows(spark, table_dir, last)
    # MERGE INTO semantics: multiple source rows matching one target key
    # is an error (ANSI "multiple matches"), and silently appending both
    # would land duplicate rows since the append side is written as-is.
    # Callers with multi-row batches must pre-reduce to one row per key
    # (as upsert_stream._batch_latest does).
    # groupBy treats NULL keys as their own group (count_distinct would
    # silently DROP null-key tuples and reject valid batches — review
    # catch), and the limit(1) stops at the first offender.
    dup = (
        updates.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        bad = {c: dup[0][c] for c in key_cols}
        raise ValueError(
            f"merge_upsert: updates has multiple rows for key {bad!r}; "
            "reduce to one row per key before merging (MERGE INTO "
            "rejects multiple source matches)"
        )
    keys = updates.select(*key_cols).distinct()
    new_dels = raw.join(keys, key_cols, "left_semi").select(
        F.col("__dv_file").alias("file_path"), F.col("__dv_pos").alias("pos")
    )
    version = last["version"] + 1
    dv_dir = f"dv={version}"
    add_dir = f"a={version}"
    new_dels.write.mode("overwrite").parquet(os.path.join(table_dir, dv_dir))
    updates.write.mode("overwrite").parquet(os.path.join(table_dir, add_dir))
    entry = {
        "version": version,
        "dir": last["dir"],
        "dirs": _entry_dirs(last) + [add_dir],
        "committed_at": time.time(),
        "note": note,
        "deletes": prior + [dv_dir],
    }
    _publish(table_dir, manifest + [entry])
    return version


def versions(table_dir: str) -> list[int]:
    return [e["version"] for e in _read_manifest(table_dir)]


def snapshots(table_dir: str) -> list[dict]:
    """Public manifest view: (version, dir, committed_at, note) per
    snapshot — lets writers implement idempotent commits by checking
    what a note (e.g. a streaming batch id) already landed."""
    return list(_read_manifest(table_dir))


def vacuum(table_dir: str, keep_last: int = 2) -> list[int]:
    """Retention: drop all but the newest ``keep_last`` snapshots.

    Order of operations makes this safe under concurrent readers of
    RETAINED versions: the manifest is rewritten (atomic replace) to
    the surviving entries FIRST, then the orphaned data directories are
    deleted — a reader holding the old manifest can at worst get a
    missing-file error for an already-vacuumed version, never a torn
    snapshot.  Returns the dropped version numbers."""
    import shutil

    manifest = _read_manifest(table_dir)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if len(manifest) <= keep_last:
        return []
    dropped, kept = manifest[:-keep_last], manifest[-keep_last:]
    _publish(table_dir, kept)
    # Delete-versions SHARE their base version's data directory and
    # their delete files may still be referenced by newer versions —
    # only remove directories no surviving entry references.
    referenced: set[str] = set()
    for e in kept:
        referenced.update(_entry_dirs(e))
        referenced.update(e.get("deletes") or [])
    for e in dropped:
        for d in [*_entry_dirs(e), *(e.get("deletes") or [])]:
            if d not in referenced:
                shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)
    return [e["version"] for e in dropped]


def _file_stats(data_dir: str, stats_cols: list[str]) -> list[dict]:
    """Per-file min/max for ``stats_cols`` read from the parquet FOOTERS
    (pyarrow metadata — no data pages touched, no Spark job).  This is
    the Iceberg/Delta manifest-stats idea: the writer pays one footer
    scan at commit time so every future reader can skip whole files."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(data_dir, "part-*.parquet"))):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for c in stats_cols:
            if c not in names:
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(names[c]).statistics
                if s is None or not s.has_min_max:
                    mins, maxs = [], []
                    break
                mins.append(s.min)
                maxs.append(s.max)
            if mins:
                stats[c] = [min(mins), max(maxs)]
        out.append({"file": os.path.basename(f), "stats": _jsonify(stats)})
    return out


def _jsonify(stats: dict) -> dict:
    import datetime

    def conv(v):
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        if isinstance(v, bytes):
            return v.decode("utf-8", "replace")
        return v

    return {k: [conv(v[0]), conv(v[1])] for k, v in stats.items()}


def commit_snapshot_with_stats(
    df: DataFrame,
    table_dir: str,
    stats_cols: list[str],
    cluster_files: int = 4,
) -> int:
    """Commit a snapshot whose files are RANGE-CLUSTERED on
    ``stats_cols[0]`` and whose manifest carries per-file min/max for
    ``stats_cols`` — the two halves of data skipping: clustering makes
    the per-file ranges narrow, the stats make them visible without
    opening the file.  ``repartitionByRange`` gives disjoint ranges per
    file (sampled split points, one extra job), so a point/band read
    touches ~1 file instead of all of them."""
    clustered = df.repartitionByRange(cluster_files, *stats_cols[:1]).sortWithinPartitions(
        *stats_cols[:1]
    )
    return _commit(clustered, table_dir, "", stats_cols)


def read_snapshot_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, int, int]:
    """Manifest-stats file skipping: read only the latest snapshot's
    files whose [min, max] for ``col`` overlaps [lo, hi] (stringified
    bounds compare lexicographically for dates/strings — the formats
    used here sort correctly).  Returns (df, files_read, files_total); the caller still
    applies the row-level filter — skipping is a superset guarantee,
    exactly like Iceberg manifest pruning."""
    entry = _resolve(table_dir, None)
    files = entry.get("files") or []
    if not files:
        raise ValueError("snapshot has no manifest stats; use read_snapshot")
    lo_s, hi_s = str(lo), str(hi)
    keep = [
        f["file"]
        for f in files
        if col not in f["stats"]
        or not (str(f["stats"][col][1]) < lo_s or str(f["stats"][col][0]) > hi_s)
    ]
    base = os.path.join(table_dir, entry["dir"])
    paths = [os.path.join(base, f) for f in keep]
    if not paths:
        # empty selection: preserve schema by reading zero rows
        df = read_snapshot(spark, table_dir, entry["version"]).limit(0)
        return df, 0, len(files)
    return spark.read.parquet(*paths), len(keep), len(files)
