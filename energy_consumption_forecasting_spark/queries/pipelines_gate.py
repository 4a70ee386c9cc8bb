"""EP1 end-to-end composition gates — the two reference ETL dataflows
run whole, not stage-by-stage, against DuckDB oracles.

Round-4 VERDICT item 1: every stage of ``generate_weather``
(/root/reference/src/scripts/ETL.py:317-330) and ``balance_sheets``
(ETL.py:79-95) is individually oracle-green, but the *compositions*
had no hash-checked registry entry (EP2 has one: ``w18_disaggregation``
is ``entry()``).  These gates stage deterministic byte-stable fixtures
(the same idempotent pattern as sources_gate.py), run the full plan
compositions from ``plans/weather_pipeline.py`` and
``plans/balance_pipeline.py``, and re-state the ENTIRE dataflow in one
DuckDB SQL chain over the identical bytes — fixed-width parse →
polygon semi-join → melt → pivot → sentinel nulls → bounded gap-fill →
calendar validity → metadata join for EP1b; ragged-CSV union →
column-regex rename → null-threshold drops → time-ordered backfill for
EP1a.

Polygon note: the footprint ring is a diamond so DuckDB can state
containment in the closed form |x−cx|/a + |y−cy|/b < 1 while Spark
runs the general ray-casting UDF (same device as ``f8_spatial_filter``);
.005 center offsets keep fixture coordinates off the boundary.

Scale note: both compositions are pure DataFrame chains — glob scans,
broadcast semi-joins on the dim-sized station list, per-station window
fills — so the gate's plan IS the 100 TB plan; only the staged inputs
are small.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..session import ensure_utc
from ._util import STAGE_DIR

WDIR = f"{STAGE_DIR}/ep1_weather"
BDIR = f"{STAGE_DIR}/ep1_balance"

# ---------------------------------------------------------------------------
# EP1b fixture: stations + .dly daily files
# ---------------------------------------------------------------------------

# Diamond footprint over (long, lat): center (−90.005, 40.005), a=6, b=4.
_CX, _CY, _A, _B = -90.005, 40.005, 6.0, 4.0
_RING = [(_CX + _A, _CY), (_CX, _CY + _B), (_CX - _A, _CY), (_CX, _CY - _B)]

# Four weather elements keep the pivot/oracle readable; the full
# 20-element list is exercised by the per-stage gates (A3/W15/W1).
_ELEMENTS = ["TMAX", "TMIN", "PRCP", "SNOW"]


def _station_line(sid: str, lat: float, long: float, elev: float, city: str) -> str:
    """ghcnd-stations.txt positional layout (STATIONS_SPEC)."""
    return (
        f"{sid:<11} {lat:8.4f} {long:9.4f} {elev:6.1f}    "
        f"{city:<30}AAA BBB CCCCC"
    )


_STATIONS = [
    # inside diamond, US → kept
    ("US000000101", 40.25, -90.75, 200.0, "SPRINGFIELD"),
    ("US000000102", 41.5, -88.5, 180.5, "JOLIET"),
    # inside diamond, US, but no .dly data → semi-join drops its days (none)
    ("US000000104", 39.5, -91.25, 210.25, "HANNIBAL"),
    # outside diamond, US → polygon filter drops
    ("US000000103", 47.0, -85.0, 300.0, "MARQUETTE"),
    # inside diamond, non-US → US filter drops
    ("CA000000201", 40.5, -89.5, 190.0, "NOWHERE ON"),
]

_STATIONS_TXT = "\n".join(_station_line(*s) for s in _STATIONS) + "\n"


def _dly_line(sid: str, year: int, month: int, element: str, values: dict[int, int]) -> str:
    """One 269-char GHCN .dly record; ``values`` maps day→tenths value,
    missing days are the −9999 sentinel."""
    line = f"{sid:<11}{year:04d}{month:02d}{element:<4}"
    for day in range(1, 32):
        v = values.get(day, -9999)
        line += f"{v:>5}   "  # blank M/Q/S flags (pruned by the pipeline anyway)
    return line


def _rng(lo: int, hi: int, base: int, step: int) -> dict[int, int]:
    return {d: base + step * d for d in range(lo, hi + 1)}


def _dly_records() -> dict[str, list[str]]:
    r: dict[str, list[str]] = {}
    # Station 101, Jan 2016: TMAX with two gaps — days 5-8 (≤7 → fully
    # ffilled from day 4) and days 10-19 (ffill reaches 10-16, bfill
    # reaches 13-19 from day 20; coalesce order makes 10-16 take the
    # ffill value).  TMIN/PRCP full so no row is all-null.
    tmax = {**_rng(1, 4, -100, 7), 9: -10, **_rng(20, 31, 50, 3)}
    r["US000000101.dly"] = [
        _dly_line("US000000101", 2016, 1, "TMAX", tmax),
        _dly_line("US000000101", 2016, 1, "TMIN", _rng(1, 31, -150, 5)),
        _dly_line("US000000101", 2016, 1, "PRCP", _rng(1, 31, 0, 2)),
        # Feb 2016 (leap): day 29 is REAL and valid; day 30 carries a
        # real value → survives the all-null drop, participates in the
        # fill window, then the calendar-validity stage drops it.
        _dly_line("US000000101", 2016, 2, "TMAX", {**_rng(1, 29, -80, 6), 30: 999}),
        # Apr 2016: day 31 real → same calendar-drop exercise for a
        # 30-day month.
        _dly_line("US000000101", 2016, 4, "TMAX", {**_rng(1, 30, 40, 2), 31: 888}),
        # Dec 2015: excluded by the year range filter.
        _dly_line("US000000101", 2015, 12, "TMAX", _rng(1, 31, -200, 1)),
    ]
    # Station 102: Mar 2017 TMAX days 1-10 real, 11-31 sentinel; TOBS
    # (not in the pivot element list) days 1-5 → days 11-31 become
    # all-null rows and are DROPPED, so Apr rows sit directly after
    # Mar day 10 in the fill window — pinning the row-positional (not
    # calendar-positional) fill semantics the reference's pandas
    # ffill(limit=7) has.
    r["US000000102.dly"] = [
        _dly_line("US000000102", 2017, 3, "TMAX", _rng(1, 10, 10, 4)),
        _dly_line("US000000102", 2017, 3, "TOBS", _rng(1, 5, 70, 1)),
        # Apr 2017: SNOW real all month; TMAX absent → Apr days 1-7 get
        # TMAX forward-filled from Mar day 10 (≤7 ROWS back, because the
        # all-null Mar 11-31 rows were dropped), Apr days 8+ stay null.
        _dly_line("US000000102", 2017, 4, "SNOW", _rng(1, 30, 0, 1)),
    ]
    # Station 103 (outside polygon) and 201 (non-US): data present,
    # filtered out by the station semi-join.
    r["US000000103.dly"] = [_dly_line("US000000103", 2016, 6, "TMAX", _rng(1, 30, 100, 1))]
    r["CA000000201.dly"] = [_dly_line("CA000000201", 2016, 6, "TMAX", _rng(1, 30, 100, 1))]
    return r


def _ensure_weather_fixture() -> None:
    os.makedirs(WDIR, exist_ok=True)
    files = {"ghcnd-stations.txt": _STATIONS_TXT}
    files.update(
        {name: "\n".join(lines) + "\n" for name, lines in _dly_records().items()}
    )
    for name, content in files.items():
        p = os.path.join(WDIR, name)
        if not os.path.exists(p) or open(p).read() != content:
            with open(p, "w") as f:
                f.write(content)


_ensure_weather_fixture()  # import-time: the oracle may run first

_W_STATIONS_SQL = f"""
      SELECT substr(line, 1, 11) AS id,
             TRY_CAST(trim(substr(line, 13, 8)) AS DOUBLE) AS lat,
             TRY_CAST(trim(substr(line, 22, 9)) AS DOUBLE) AS long,
             TRY_CAST(trim(substr(line, 32, 6)) AS DOUBLE) AS elev,
             trim(substr(line, 42, 30)) AS city
      FROM read_csv('{WDIR}/ghcnd-stations.txt', header=false, delim='|',
                    quote='', columns={{'line': 'VARCHAR'}})
"""

_W_PIVOT_COLS = ",\n             ".join(
    f"min(CASE WHEN element = '{e}' THEN v END) AS {e.lower()}" for e in _ELEMENTS
)
_W_NULLED = ",\n             ".join(
    f"CASE WHEN {e.lower()} = -9999 THEN NULL ELSE {e.lower()} END AS {e.lower()}"
    for e in _ELEMENTS
)
_W_ALLNULL = " AND ".join(
    f"nullif({e.lower()}, -9999) IS NULL" for e in _ELEMENTS
)
_W_FILLED = ",\n             ".join(
    f"""coalesce({e.lower()},
               last_value({e.lower()} IGNORE NULLS) OVER wb,
               first_value({e.lower()} IGNORE NULLS) OVER wf) AS {e.lower()}"""
    for e in _ELEMENTS
)


@query(
    "pipeline_weather_e2e",
    oracle=f"""
    WITH stations AS (
      {_W_STATIONS_SQL}
    ),
    footprint AS (
      SELECT * FROM stations
      WHERE id LIKE '%US%'
        AND abs(long - ({_CX})) / {_A} + abs(lat - ({_CY})) / {_B} < 1
    ),
    raw AS (
      SELECT line
      FROM read_csv('{WDIR}/*.dly', header=false, delim='|', quote='',
                    columns={{'line': 'VARCHAR'}})
    ),
    melted AS (
      SELECT substr(line, 1, 11) AS id,
             CAST(substr(line, 12, 4) AS INT) AS year,
             CAST(substr(line, 16, 2) AS INT) AS month,
             trim(substr(line, 18, 4)) AS element,
             d AS day,
             TRY_CAST(trim(substr(line, 22 + (d - 1) * 8, 5)) AS DOUBLE) AS v
      FROM raw, (SELECT UNNEST(generate_series(1, 31)) AS d)
    ),
    scoped AS (
      SELECT m.* FROM melted m
      WHERE m.id IN (SELECT id FROM footprint)
        AND m.year BETWEEN 2016 AND 2024
    ),
    pivoted AS (
      SELECT id, year, month, day,
             {_W_PIVOT_COLS}
      FROM scoped GROUP BY id, year, month, day
    ),
    cleaned AS (
      SELECT id, year, month, day,
             {_W_NULLED}
      FROM pivoted
      WHERE NOT ({_W_ALLNULL})
    ),
    filled AS (
      SELECT id, year, month, day,
             {_W_FILLED}
      FROM cleaned
      WINDOW wb AS (PARTITION BY id ORDER BY year, month, day
                    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY id ORDER BY year, month, day
                    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
    ),
    dated AS (
      SELECT *,
             TRY_CAST(printf('%04d-%02d-%02d', year, month, day) AS DATE) AS d
      FROM filled
    )
    SELECT t.id, CAST(t.d AS VARCHAR) AS date,
           {", ".join(f"t.{e.lower()}" for e in _ELEMENTS)},
           s.lat, s.long, s.elev, s.city
    FROM dated t JOIN footprint s USING (id)
    WHERE t.d IS NOT NULL
    """,
)
def pipeline_weather_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1b whole-dataflow gate: ``generate_weather`` (ETL.py:317-330)
    as the single composed plan from plans/weather_pipeline.py — S3
    fixed-width stations → F6 US filter + F8/J6 polygon semi-join → S4
    .dly glob scan → J5 broadcast semi-join + F7 year range → W4 melt →
    A3 deterministic pivot → W15 sentinel nulls + F11 all-null drop →
    W1 per-station bounded gap-fill → W13 calendar validity → J1
    metadata broadcast join.  The DuckDB oracle re-states the entire
    chain over the identical staged bytes."""
    from ..plans.weather_pipeline import weather_pipeline
    from ..sources.fixed_width import read_dly, read_stations

    _ensure_weather_fixture()
    ensure_utc(spark)
    stations = read_stations(spark, os.path.join(WDIR, "ghcnd-stations.txt"))
    daily = read_dly(spark, f"{WDIR}/*.dly")
    out = weather_pipeline(
        stations, daily, _RING, year_range=(2016, 2024), elements=_ELEMENTS
    )
    return out.select(
        F.col("ID").alias("id"),
        F.col("DATE").cast("string").alias("date"),
        *[F.col(e).alias(e.lower()) for e in _ELEMENTS],
        "lat",
        "long",
        "elev",
        "city",
    )


# ---------------------------------------------------------------------------
# EP1a fixture: ragged yearly EIA-930 balance CSVs
# ---------------------------------------------------------------------------

_B_HDR_2016 = (
    "Balancing Authority,Data Date,Hour Number,Local Time at End of Hour,"
    "Demand (MW) (Adjusted),Demand Forecast (MW) (Adjusted),"
    "Net Generation (MW) (Adjusted),Total Interchange (MW) (Adjusted),"
    "Demand (MW) (Imputed),Region"
)
# 2017 file lacks the Total Interchange column (ragged schema → the
# union must null-fill it, reference _check_columns ETL.py:38-54).
_B_HDR_2017 = (
    "Balancing Authority,Data Date,Hour Number,Local Time at End of Hour,"
    "Demand (MW) (Adjusted),Demand Forecast (MW) (Adjusted),"
    "Net Generation (MW) (Adjusted),Demand (MW) (Imputed),Region"
)


def _b_rows_2016() -> list[str]:
    rows = []
    for h in range(1, 13):
        demand = "" if h == 5 else f"{1000 + 17 * h}.25"
        forecast = f"{990 + 16 * h}.5"
        netgen = "" if h in (5, 9) else f"{1100 + 11 * h}.75"
        # Total Interchange: only 2 of 24 overall rows non-null → non-null
        # fraction < 0.2 → F10 drops the whole column.
        ti = f"{-50 + h}.0" if h in (3, 7) else ""
        rows.append(
            f"MISO,2016-07-01,{h},2016-07-01 {h:02d}:00:00,"
            f"{demand},{forecast},{netgen},{ti},{900 + h}.0,MIDW"
        )
    # non-MISO / non-MIDW rows the filter must drop
    rows.append("PJM,2016-07-01,1,2016-07-01 01:00:00,5000.0,5000.0,5100.0,,4900.0,MIDA")
    rows.append("SWPP,2016-07-01,1,2016-07-01 01:00:00,3000.0,3000.0,3100.0,,2900.0,MIDW")
    return rows


def _b_rows_2017() -> list[str]:
    rows = []
    for h in range(1, 13):
        demand = f"{1200 + 13 * h}.25"
        forecast = "" if h == 2 else f"{1190 + 12 * h}.5"
        netgen = f"{1300 + 9 * h}.75"
        rows.append(
            f"MISO,2017-07-01,{h},2017-07-01 {h:02d}:00:00,"
            f"{demand},{forecast},{netgen},{800 + h}.0,MIDW"
        )
    rows.append("MISO,2017-07-01,13,2017-07-01 13:00:00,,,,790.0,MIDW")
    return rows


_B_FILES = {
    "EIA930_BALANCE_2016.csv": _B_HDR_2016 + "\n" + "\n".join(_b_rows_2016()) + "\n",
    "EIA930_BALANCE_2017.csv": _B_HDR_2017 + "\n" + "\n".join(_b_rows_2017()) + "\n",
}


def _ensure_balance_fixture() -> None:
    os.makedirs(BDIR, exist_ok=True)
    for name, content in _B_FILES.items():
        p = os.path.join(BDIR, name)
        if not os.path.exists(p) or open(p).read() != content:
            with open(p, "w") as f:
                f.write(content)


_ensure_balance_fixture()

# Post-pipeline column set (the F10 decision is DATA-driven on the Spark
# side; the oracle states the expected survivors for this fixture:
# total_interchange has 2/25 non-null < 20%, demand_mw_imputed was
# never selected — "Imputed" excluded at projection).
_B_VALUE_COLS = ["demand", "demand_forecast", "net_generation"]


@query(
    "pipeline_balance_e2e",
    oracle=f"""
    WITH y2016 AS (
      SELECT "Balancing Authority" AS balancing_authority,
             "Data Date" AS data_date,
             "Hour Number" AS hour_number,
             "Local Time at End of Hour" AS ts,
             "Demand (MW) (Adjusted)" AS demand,
             "Demand Forecast (MW) (Adjusted)" AS demand_forecast,
             "Net Generation (MW) (Adjusted)" AS net_generation,
             "Total Interchange (MW) (Adjusted)" AS total_interchange,
             Region AS region
      FROM read_csv('{BDIR}/EIA930_BALANCE_2016.csv', header=true,
                    columns={{'Balancing Authority': 'VARCHAR',
                              'Data Date': 'VARCHAR',
                              'Hour Number': 'INT',
                              'Local Time at End of Hour': 'VARCHAR',
                              'Demand (MW) (Adjusted)': 'DOUBLE',
                              'Demand Forecast (MW) (Adjusted)': 'DOUBLE',
                              'Net Generation (MW) (Adjusted)': 'DOUBLE',
                              'Total Interchange (MW) (Adjusted)': 'DOUBLE',
                              'Demand (MW) (Imputed)': 'DOUBLE',
                              'Region': 'VARCHAR'}})
    ),
    y2017 AS (
      SELECT "Balancing Authority" AS balancing_authority,
             "Data Date" AS data_date,
             "Hour Number" AS hour_number,
             "Local Time at End of Hour" AS ts,
             "Demand (MW) (Adjusted)" AS demand,
             "Demand Forecast (MW) (Adjusted)" AS demand_forecast,
             "Net Generation (MW) (Adjusted)" AS net_generation,
             CAST(NULL AS DOUBLE) AS total_interchange,
             Region AS region
      FROM read_csv('{BDIR}/EIA930_BALANCE_2017.csv', header=true,
                    columns={{'Balancing Authority': 'VARCHAR',
                              'Data Date': 'VARCHAR',
                              'Hour Number': 'INT',
                              'Local Time at End of Hour': 'VARCHAR',
                              'Demand (MW) (Adjusted)': 'DOUBLE',
                              'Demand Forecast (MW) (Adjusted)': 'DOUBLE',
                              'Net Generation (MW) (Adjusted)': 'DOUBLE',
                              'Demand (MW) (Imputed)': 'DOUBLE',
                              'Region': 'VARCHAR'}})
    ),
    unioned AS (
      SELECT * FROM y2016 WHERE region = 'MIDW' AND balancing_authority = 'MISO'
      UNION ALL
      SELECT * FROM y2017 WHERE region = 'MIDW' AND balancing_authority = 'MISO'
    ),
    typed AS (
      SELECT balancing_authority, data_date, hour_number,
             CAST(ts AS TIMESTAMP) AS ts,
             demand, demand_forecast, net_generation, region
      FROM unioned
      -- total_interchange dropped: 2/25 non-null < the 20% F10 floor
    ),
    surviving AS (
      SELECT * FROM typed
      WHERE (CASE WHEN balancing_authority IS NULL THEN 0 ELSE 1 END
           + CASE WHEN data_date IS NULL THEN 0 ELSE 1 END
           + CASE WHEN hour_number IS NULL THEN 0 ELSE 1 END
           + CASE WHEN ts IS NULL THEN 0 ELSE 1 END
           + CASE WHEN demand IS NULL THEN 0 ELSE 1 END
           + CASE WHEN demand_forecast IS NULL THEN 0 ELSE 1 END
           + CASE WHEN net_generation IS NULL THEN 0 ELSE 1 END
           + CASE WHEN region IS NULL THEN 0 ELSE 1 END) >= 7
    )
    SELECT balancing_authority, data_date, hour_number,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS local_time_end_hour,
           {", ".join(
               f'''coalesce({c}, first_value({c} IGNORE NULLS) OVER
                 (ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
                 AS {c}''' for c in _B_VALUE_COLS
           )},
           region
    FROM surviving
    """,
)
def pipeline_balance_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP1a whole-dataflow gate: ``balance_sheets`` (ETL.py:79-95) as
    the composed plan from plans/balance_pipeline.py — per-year CSV
    scans → F3 MIDW/MISO filter → F2 Adjusted/non-Imputed projection →
    W17 schema-aligning union → column-regex rename (ETL.py:87) → W14
    timestamp cast → F10 null-threshold column drop (data-driven) →
    F11 row threshold → W2 time-ordered backfill.  The oracle re-states
    the chain over the identical staged bytes; the F10 survivors are
    stated explicitly because the fixture is deterministic (the
    threshold rule itself has a generic oracle: f10_null_col_drop)."""
    from pyspark.sql import types as T

    from ..plans.balance_pipeline import balance_pipeline

    _ensure_balance_fixture()
    ensure_utc(spark)
    schemas = {
        "EIA930_BALANCE_2016.csv": _B_HDR_2016,
        "EIA930_BALANCE_2017.csv": _B_HDR_2017,
    }
    frames = []
    for name, hdr in schemas.items():
        fields = []
        for col in hdr.split(","):
            if col == "Hour Number":
                dt = T.IntegerType()
            elif "(MW)" in col:
                dt = T.DoubleType()
            else:
                dt = T.StringType()
            fields.append(T.StructField(col, dt))
        frames.append(
            spark.read.schema(T.StructType(fields))
            .option("header", "true")
            .csv(os.path.join(BDIR, name))
        )
    # The REAL EIA-930 header name (the reference normalizes it to
    # local_time_end_hour via the ETL.py:87 regex).
    out = balance_pipeline(frames, ts_col="Local Time at End of Hour")
    return out.select(
        "balancing_authority",
        "data_date",
        "hour_number",
        F.date_format("local_time_end_hour", "yyyy-MM-dd HH:mm:ss").alias(
            "local_time_end_hour"
        ),
        *_B_VALUE_COLS,
        "region",
    )
