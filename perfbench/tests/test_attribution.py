"""Attribution of Spark work to a traced query: jobs by status-store id
range after draining the listener bus (so jobs run on other threads,
such as stream micro-batches, are not missed), micro-batches through a
``StreamingQueryListener``, SQL executions through a
``QueryExecutionListener``."""

import threading

import pytest

pytest.importorskip("pyspark")

from spans import SparkRecorder  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = str(tmp_path_factory.mktemp("spark-local"))
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-attribution")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", local)
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="module")
def recorder(spark):
    return SparkRecorder(spark)


def test_jobs_counted_by_id_range_across_threads(spark, recorder):
    sc = spark.sparkContext
    recorder.drain()
    first = recorder.next_job_id()
    sc.setJobGroup("client", "the client thread's group")
    sc.parallelize(range(100), 3).count()  # 1 job, 1 stage, 3 tasks

    def other_thread():  # 1 job, 2 stages, 2 + 2 tasks, not in the group
        sc.parallelize(range(10), 2).map(lambda x: (x % 2, x)).reduceByKey(
            lambda a, b: a + b
        ).collect()

    t = threading.Thread(target=other_thread)
    t.start()
    t.join(120)
    assert not t.is_alive()
    recorder.drain()
    jobs = recorder.jobs(first, recorder.next_job_id())
    assert len(jobs) == 2
    assert sum(j["stages"] for j in jobs) == 3
    assert sum(j["tasks"] for j in jobs) == 7
    assert all(j["failed_tasks"] == 0 and j["skipped_stages"] == 0 for j in jobs)


def test_micro_batches_and_executions_recorded(spark, recorder, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    n_batches, n_execs = len(recorder.batches), len(recorder.executions)
    q = (
        spark.readStream.schema("id LONG")
        .parquet(src)
        .writeStream.format("memory")
        .queryName("perfbench_attr")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    left = spark.range(5).withColumnRenamed("id", "k")
    left.join(spark.range(5).withColumnRenamed("id", "k"), "k").collect()
    recorder.drain()
    batches = recorder.batches[n_batches:]
    assert sum(b["input_rows"] for b in batches) == 10
    execs = recorder.executions[n_execs:]
    assert execs and all(e["plan_ms"] >= 0 for e in execs)
    assert sum(
        e["spark.joins_broadcast"] + e["spark.joins_sort_merge"] + e["spark.joins_shuffled_hash"]
        for e in execs
    ) >= 1
