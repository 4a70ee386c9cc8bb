"""CSV sources — SURVEY S1/S2/S6/S7.

Reference: per-year HTTP CSVs (ETL.py:56-77), pd.read_csv with
parse_dates / header=4 skip (normalization.ipynb:101,127), per-file
directory loops (ETL.py:168-178), to_csv sinks (ETL.py:95,330).

Spark-first: explicit schemas (never inference at scale — one schema
probe per 100 TB load is a full extra scan), path globs instead of
file loops, Parquet for engine-internal stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    skip_rows: int = 0,
) -> DataFrame:
    """Schema-on-read CSV scan.  ``path`` may be a glob — the reference's
    per-file union loop (ETL.py:168-178) is just a multi-path scan here,
    parallel across files for free.

    ``skip_rows`` reproduces pandas ``header=4`` (N:127): Spark has no
    skipRows, so rows are zipped with a per-file index via an initial
    text scan when needed."""
    reader = spark.read.schema(schema).option("header", header)
    if skip_rows == 0:
        return reader.csv(path)
    # header=N emulation: read as text, drop the first N lines of EACH
    # file (window partitioned by input_file_name — a glob of per-year
    # files each carries its own preamble), re-parse with from_csv.
    # monotonically_increasing_id orders by (partition, offset), and
    # text-file partitions follow block order within a file, so the
    # per-file rank is the line number.  Parallelism = one task per
    # file for this pass — matched to the many-small-files shape the
    # preamble-skip exists for.
    text = spark.read.text(path).select(
        F.input_file_name().alias("__file"),
        F.monotonically_increasing_id().alias("__rid"),
        "value",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("__file").orderBy("__rid")
    body = (
        text.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > skip_rows + (1 if header else 0))
        .drop("__file", "__rid", "__rn")
    )
    ddl = ",".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
    return body.select(
        F.from_csv("value", ddl).alias("r")
    ).select("r.*")


def fetch_http_to_stage(
    spark: SparkSession,
    urls: list[str],
    stage_dir: str,
    timeout: float = 30.0,
) -> list[str]:
    """S1: stage HTTP CSVs for scanning (reference fetches per-year CSVs
    over HTTP, ETL.py:56-77).

    The fetch runs ON THE EXECUTORS — the URL list is parallelized and
    each task streams its file to ``stage_dir`` with urllib (stdlib; no
    extra deps).  On a real cluster ``stage_dir`` must be shared storage
    (HDFS/S3/NFS) so the staged files are visible to the subsequent
    scan; driver-only fetch would serialize the download of thousands
    of files through one machine.  Returns the staged paths; feed the
    directory glob to ``read_csv``.

    Download is idempotent (atomic rename over a temp file), so retried
    tasks are safe."""
    import os

    sc = spark.sparkContext
    os.makedirs(stage_dir, exist_ok=True)

    def fetch(url: str) -> str:
        import os
        import urllib.request

        name = url.rstrip("/").rsplit("/", 1)[-1]
        dest = os.path.join(stage_dir, name)
        if not os.path.exists(dest):
            tmp = f"{dest}.part-{os.getpid()}"
            with urllib.request.urlopen(url, timeout=timeout) as resp, open(
                tmp, "wb"
            ) as out:
                while True:
                    chunk = resp.read(1 << 20)
                    if not chunk:
                        break
                    out.write(chunk)
            os.replace(tmp, dest)
        return dest

    n = max(1, len(urls))
    return sc.parallelize(urls, n).map(fetch).collect()
