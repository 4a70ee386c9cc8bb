"""Sources (fixed-width, CSV skip-rows), spatial UDF, multimodal
plumbing, and the streaming rollup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from energy_consumption_forecasting_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
    payload_stats,
    resize_images,
    sample_frames,
)
from energy_consumption_forecasting_spark.operators.spatial import (
    _ray_cast,
    filter_in_polygon,
)
from energy_consumption_forecasting_spark.sources.fixed_width import (
    dly_spec,
    read_fixed_width,
    read_stations,
)
from tests.conftest import SF_SMALL


def test_fixed_width_stations(spark, tmp_path):
    lines = [
        "US000000001  40.0000  -90.0000  200.0    SPRINGFIELD                   AAA BBB CCCCC",
        "CA000000002  50.1234  -80.5000  150.5    TORONTO                       XXX YYY ZZZZZ",
    ]
    p = tmp_path / "stations.txt"
    p.write_text("\n".join(lines) + "\n")
    df = read_stations(spark, str(p))
    rows = {r["ID"]: r for r in df.collect()}
    assert rows["US000000001"]["lat"] == 40.0
    assert rows["CA000000002"]["long"] == -80.5
    assert rows["US000000001"]["city"] == "SPRINGFIELD"


def test_fixed_width_dly(spark, tmp_path):
    spec = dly_spec()
    # build one .dly line positionally from the spec itself
    line = [" "] * 270
    def put(s, start, width, left=True):
        s = str(s)[:width]
        s = s.ljust(width) if left else s.rjust(width)
        line[start - 1 : start - 1 + width] = list(s)
    put("US000000001", 1, 11)
    put("2021", 12, 4)
    put("04", 16, 2)
    put("TMAX", 18, 4)
    for day in range(1, 32):
        name, start, width, _ = spec[4 + (day - 1) * 4]
        assert name == f"VALUE{day}"
        put(str(day * 10), start, 5, left=False)
    p = tmp_path / "US000000001.dly"
    p.write_text("".join(line) + "\n")
    df = read_fixed_width(spark, str(p), spec)
    r = df.first()
    assert (r["ID"], r["YEAR"], r["MONTH"], r["ELEMENT"]) == ("US000000001", 2021, 4, "TMAX")
    assert r["VALUE1"] == 10.0 and r["VALUE31"] == 310.0


def test_ray_cast_matches_known_points():
    import numpy as np

    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
    lon = np.array([2.0, 5.0, -1.0, 3.9])
    lat = np.array([2.0, 2.0, 2.0, 3.9])
    assert _ray_cast(lon, lat, ring).tolist() == [True, False, False, True]


def test_filter_in_polygon_prefilters_bbox(spark):
    df = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 10.0, 10.0), (3, -5.0, 2.0)], "id long, x double, y double"
    )
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
    got = sorted(r["id"] for r in filter_in_polygon(df, "x", "y", ring).collect())
    assert got == [1]


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(20)
    return documents_as_media(docs)


def test_payload_stats(spark, media):
    out = payload_stats(media).collect()
    assert len(out) == 20
    assert all(r["n_bytes"] > 0 and len(r["content_hash"]) == 32 for r in out)


def test_extract_features_batch_shape(spark, media):
    out = extract_features(media).collect()
    assert len(out) == 20
    assert all(r["decoded_h"] >= 1 and r["feat_std"] >= 0.0 for r in out)


def test_resize_shape(spark, media):
    out = resize_images(media, (8, 8)).collect()
    assert all(len(r["pixels"]) == 64 for r in out)


def test_frame_sampling(spark, media):
    out = sample_frames(media, every_n=5)
    joined = (
        out.groupBy("media_id")
        .agg(F.count("*").alias("n"), F.max("frame_idx").alias("mx"))
        .collect()
    )
    assert all(r["mx"] % 5 == 0 for r in joined)


def test_streaming_rollup_equals_batch(spark):
    from energy_consumption_forecasting_spark.session import ensure_utc
    from energy_consumption_forecasting_spark.streaming.daily_rollup import (
        run_available_now,
    )
    from energy_consumption_forecasting_spark.tables import load_table

    ensure_utc(spark)
    stream_res = {
        (r["d"], r["event_type"]): (r["n"], round(r["avg_value"], 9))
        for r in run_available_now(spark, SF_SMALL).collect()
    }
    batch = (
        load_table(spark, SF_SMALL, "events")
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("avg_value"),
        )
    )
    batch_res = {
        (r["d"], r["event_type"]): (r["n"], round(r["avg_value"], 9))
        for r in batch.collect()
    }
    assert stream_res == batch_res


def test_csv_skip_rows_per_file(spark, tmp_path):
    """Each globbed file drops ITS OWN preamble (r1 bug: a single global
    drop kept every later file's preamble as garbage data rows)."""
    from pyspark.sql import types as T

    from energy_consumption_forecasting_spark.sources.csv_source import read_csv

    for i in (1, 2, 3):
        (tmp_path / f"f{i}.csv").write_text(
            f"# preamble A file {i}\n# preamble B\nk,v\na{i},1\nb{i},2\n"
        )
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
    )
    df = read_csv(spark, str(tmp_path / "*.csv"), schema, header=True, skip_rows=2)
    rows = {(r.k, r.v) for r in df.collect()}
    assert rows == {(f"{p}{i}", n) for i in (1, 2, 3) for p, n in (("a", 1), ("b", 2))}
    assert df.count() == 6  # no preamble garbage, no nulls


def test_stream_dedup_matches_batch(spark):
    """Streaming exact dedup (availableNow drain) keeps exactly one
    survivor per content hash — same hash set as batch dedup."""
    from energy_consumption_forecasting_spark.streaming.dedup_stream import (
        run_dedup_available_now,
    )
    from tests.conftest import SF_SMALL

    survivors = run_dedup_available_now(spark, SF_SMALL).collect()
    batch = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select(F.md5("text").alias("h"))
        .distinct()
        .collect()
    )
    assert len(survivors) == len(batch)
    assert {r["text_hash"] for r in survivors} == {r["h"] for r in batch}
    # survivors are real rows: every (doc_id, hash) pair exists in the input
    src = {
        (r["doc_id"], r["h"])
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", F.md5("text").alias("h"))
        .collect()
    }
    assert all((r["doc_id"], r["text_hash"]) in src for r in survivors)


def test_session_window_stream_equals_batch(spark):
    """Streaming session_window (availableNow drain) == batch session_agg."""
    from energy_consumption_forecasting_spark.queries._util import tbl
    from energy_consumption_forecasting_spark.streaming.session_stream import (
        run_sessions_available_now,
        session_agg,
    )

    batch = session_agg(tbl(spark, SF_SMALL, "events"))
    stream = run_sessions_available_now(spark, SF_SMALL, glob="events.parquet")
    cols = ["user_id", "session_start_us", "session_end_us", "n_events", "total_value"]
    b = sorted(map(tuple, batch.select(*cols).collect()))
    s = sorted(map(tuple, stream.select(*cols).collect()))
    assert b == s and len(b) > 0


def test_attribution_stream_equals_batch(spark):
    """Stream-stream interval join (availableNow) == batch interval join."""
    from energy_consumption_forecasting_spark.queries._util import tbl
    from energy_consumption_forecasting_spark.streaming.attribution_stream import (
        attribution_join,
        run_attribution_available_now,
    )

    ev = tbl(spark, SF_SMALL, "events")
    batch = attribution_join(ev, ev)
    stream = run_attribution_available_now(spark, SF_SMALL, glob="events.parquet")
    cols = ["user_id", "view_id", "purchase_id", "lag_us"]
    b = sorted(map(tuple, batch.select(*cols).collect()))
    s = sorted(map(tuple, stream.select(*cols).collect()))
    assert b == s


def test_stream_checkpoint_no_reprocessing(spark, tmp_path):
    """A second availableNow drain over an UNCHANGED directory with the
    SAME checkpoint must process nothing — the file-source offset log
    is what makes incremental ingest exactly-once at scale.  (Memory
    sinks don't support checkpoint recovery; the parquet sink — the
    realistic shape — does.)"""
    from energy_consumption_forecasting_spark.streaming import (
        pinned_stream_partitions,
    )
    from energy_consumption_forecasting_spark.streaming.dedup_stream import (
        dedup_stream,
    )

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    counts = []
    with pinned_stream_partitions(spark, 4):
        for _ in range(2):
            q = (
                dedup_stream(spark, SF_SMALL, "documents.parquet")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            counts.append(spark.read.parquet(out).count())
    assert counts[0] > 0
    assert counts[1] == counts[0]  # second drain appended nothing


def test_stream_abandoned_views_matches_batch_cutoff(spark):
    """Left-outer stream-stream join == batch NOT EXISTS restricted to
    the watermark-provable horizon (max_ts - join window - delay)."""
    from energy_consumption_forecasting_spark.session import ensure_utc
    from energy_consumption_forecasting_spark.streaming.attribution_stream import (
        run_abandoned_available_now,
    )
    from energy_consumption_forecasting_spark.tables import load_table

    ensure_utc(spark)
    got = {
        (r.user_id, r.view_id)
        for r in run_abandoned_available_now(spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    matched = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_semi",
    )
    want = {
        (r.user_id, r.view_id)
        for r in v.join(matched.select("view_id"), "view_id", "left_anti")
        .filter(F.col("v_ts") <= F.lit(max_ts) - F.expr("INTERVAL 2 HOUR"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_sink_commit_is_replay_idempotent(tmp_path):
    """A replayed micro-batch must REPLACE its own files, never add:
    the at-least-once crash window (sink committed, offset log not)
    is closed by deterministic batch-scoped names + clear-before-
    promote."""
    import json as _json
    import os

    from pyspark.sql import Row
    from pyspark.sql import types as T

    from energy_consumption_forecasting_spark.sources.jsonl_sink_datasource import (
        JsonlStreamWriter,
    )

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    out = str(tmp_path / "sink")
    w = JsonlStreamWriter({"path": out}, schema)
    rows = [Row(k=1, v="a"), Row(k=2, v="b")]

    m1 = w.write(iter(rows))
    w.commit([m1], 7)
    first = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))

    m2 = w.write(iter(rows))  # replay of batch 7
    w.commit([m2], 7)
    second = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))

    assert first == second == ["batch-000000007-00000.jsonl"]
    with open(os.path.join(out, second[0])) as f:
        got = [_json.loads(line) for line in f]
    assert got == [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]
    assert not [f for f in os.listdir(out) if f.startswith(".staged-")]
