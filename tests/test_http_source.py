"""S1 HTTP CSV source: executor-side staging fetch against a real
(localhost) HTTP server, then the standard schema'd scan."""

from __future__ import annotations

import http.server
import os
import shutil
import socketserver
import threading

import pytest

from pyspark.sql import types as T

from energy_consumption_forecasting_spark.queries._util import STAGE_DIR
from energy_consumption_forecasting_spark.sources.csv_source import (
    fetch_http_to_stage,
    read_csv,
)

FIXTURE_DIR = os.path.join(STAGE_DIR, "s2_csv")  # staged by queries.sources_gate
HTTP_STAGE_DIR = os.path.join(STAGE_DIR, "s1_http")


@pytest.fixture(scope="module")
def http_url():
    import energy_consumption_forecasting_spark.queries.sources_gate  # noqa: F401 — stages fixtures

    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(
        *a, directory=FIXTURE_DIR, **kw
    )
    with socketserver.TCPServer(("127.0.0.1", 0), handler) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        yield f"http://127.0.0.1:{port}"
        httpd.shutdown()


def test_http_fetch_then_scan_matches_local_read(spark, http_url):
    shutil.rmtree(HTTP_STAGE_DIR, ignore_errors=True)
    files = sorted(os.listdir(FIXTURE_DIR))
    assert files, "sources_gate fixtures missing"
    staged = fetch_http_to_stage(
        spark, [f"{http_url}/{f}" for f in files], HTTP_STAGE_DIR
    )
    assert sorted(os.path.basename(p) for p in staged) == files
    schema = T.StructType(
        [
            T.StructField("station", T.StringType()),
            T.StructField("d", T.DateType()),
            T.StructField("tmax", T.DoubleType()),
            T.StructField("prcp", T.DoubleType()),
        ]
    )
    via_http = read_csv(
        spark, f"{HTTP_STAGE_DIR}/*.csv", schema, header=True, skip_rows=2
    )
    direct = read_csv(
        spark, f"{FIXTURE_DIR}/*.csv", schema, header=True, skip_rows=2
    )
    assert sorted(map(tuple, via_http.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_http_fetch_idempotent(spark, http_url):
    files = sorted(os.listdir(FIXTURE_DIR))
    urls = [f"{http_url}/{files[0]}"]
    first = fetch_http_to_stage(spark, urls, HTTP_STAGE_DIR)
    mtime = os.path.getmtime(first[0])
    again = fetch_http_to_stage(spark, urls, HTTP_STAGE_DIR)
    assert again == first
    assert os.path.getmtime(first[0]) == mtime  # no re-download


def test_dly_datasource_matches_wide_reader(spark):
    """format('dly') long form ≡ melt of the substring-projection reader."""
    import energy_consumption_forecasting_spark.queries.sources_gate as sg
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.sources.dly_datasource import register
    from energy_consumption_forecasting_spark.sources.fixed_width import read_dly

    register(spark)
    long_df = spark.read.format("dly").load(f"{sg.DLY_DIR}/*.dly")
    wide = read_dly(spark, f"{sg.DLY_DIR}/*.dly")
    n_lines = wide.count()
    assert long_df.count() == n_lines * 31
    # spot-check one known cell: VALUE5 of each line equals long day=5
    wide_v5 = {
        (r.ID, r.YEAR, r.MONTH, r.ELEMENT): r.VALUE5 for r in wide.collect()
    }
    for r in long_df.filter(F.col("day") == 5).collect():
        w = wide_v5[(r.id, r.year, r.month, r.element)]
        expect = None if w == -9999.0 else w
        assert r.value == expect
    # one partition per input file
    reader_parts = long_df.rdd.getNumPartitions()
    import glob as g

    assert reader_parts == len(g.glob(f"{sg.DLY_DIR}/*.dly"))
