"""Migration facade: the reference's class API, Spark-backed.

A user of the reference repo drives it through four classes —
``ETL``/``ETLConfig`` (src/scripts/ETL.py:22,30), ``BlockingTimeSeriesSplit``
(src/scripts/utils.py:8), ``BayesianOptimization``/``...Config``
(src/scripts/optimization.py:21,35), and ``ConsumptionForecasterTrainer``
(src/scripts/LSTM.py:43,51).  This module offers the SAME names and
call shapes delegating to the engine's distributed implementations, so
a reference workflow ports by swapping the import:

    from energy_consumption_forecasting_spark.api import (
        ETL, ETLConfig, BlockingTimeSeriesSplit, BayesianOptimization,
        BayesianOptimizationConfig, ConsumptionForecasterTrainer,
    )

Two documented semantic deltas, both inherent to the engine change:

* Frames are Spark ``DataFrame``s, not pandas.  Methods that the
  reference defines positionally (``BlockingTimeSeriesSplit.split``
  yields index arrays) instead yield DataFrame pairs — Spark has no
  row positions, so ordering keys are explicit (the repo-wide rule).
* Ingest methods return lazily-planned frames instead of writing CSVs
  to ``data_path`` side-effectfully; call ``.write`` where the
  reference relied on files appearing on disk.

Everything here is a THIN delegation layer: the behavior lives in
``plans/`` (EP1/EP2 chains), ``ml/`` (CV, BO, LSTM), and ``sources/``
(fixed-width + .dly readers), each oracle- or fixture-tested.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession


class _AttrBag:
    """Kwargs → attributes; unknown attributes read as None (the
    reference's config idiom, shared by ETLConfig and
    BayesianOptimizationConfig)."""

    def __init__(self, **kwargs):
        self.__dict__.update(kwargs)

    def __getattr__(self, name):
        return None


class ETLConfig(_AttrBag):
    """Reference ETL.py:22 — carries start_year/end_year/data_path/
    station_file/ghcd_path plus anything else the caller sets."""


class BayesianOptimizationConfig(_AttrBag):
    """Reference optimization.py:21 — hp_bounds/search_size/objective
    etc.; unknown fields read as None."""


class ETL:
    """Reference ETL.py:30 — the EP1 ingest/normalize surface.

    Construction mirrors the reference (a config with year range and
    paths plus a SparkSession, which the pandas version didn't need)."""

    def __init__(self, config: ETLConfig, spark: SparkSession):
        self.config = config
        self.spark = spark
        self.start_year = config.start_year
        self.end_year = config.end_year
        self.data_path = config.data_path
        self.station_file = config.station_file
        self.ghcd_path = config.ghcd_path

    # -- EP1a: balance sheets (ETL.py:56-99) ------------------------------
    def balance_sheets(
        self, yearly_frames: list[DataFrame] | None = None
    ) -> DataFrame:
        """Reference ``_extract_csvs`` + ``_check_columns`` +
        ``balance_sheets``: fetch/scan the per-year EIA CSVs, align
        schemas, filter to the MISO region, normalize names, drop
        null-heavy columns/rows, backfill.  Scans LOCAL per-year CSV
        globs under ``data_path`` (download first with
        sources/csv_source.fetch_http_to_stage, the executor-parallel
        staging fetch — the reference downloads inline); or pass
        pre-scanned frames."""
        from .plans.balance_pipeline import balance_pipeline

        if yearly_frames is None:
            # the reference infers dtypes with pandas (ETL.py:69);
            # header+inferSchema is the Spark equivalent for the
            # migration path — production pins explicit schemas via
            # sources/csv_source.read_csv
            yearly_frames = [
                self.spark.read.option("header", True)
                .option("inferSchema", True)
                .csv(f"{self.data_path}/*{year}*.csv")
                for year in range(self.start_year, self.end_year + 1)
            ]
        return balance_pipeline(yearly_frames)

    def download_balance_sheets(
        self,
        base_url: str = "https://www.eia.gov/electricity/gridmonitor/sixMonthFiles",
    ) -> list[str]:
        """Reference ``_extract_csvs`` download half (ETL.py:56-77):
        stage the per-year EIA930 balance CSVs under ``data_path`` via
        the executor-parallel HTTP fetch (sources/csv_source.py —
        idempotent atomic renames, so re-runs skip finished files).
        Call before ``balance_sheets()`` when the CSVs aren't local;
        ``base_url`` is overridable for mirrors and tests."""
        from .sources.csv_source import fetch_http_to_stage

        urls = [
            f"{base_url}/EIA930_BALANCE_{year}_{half}.csv"
            for year in range(self.start_year, self.end_year + 1)
            for half in ("Jan_Jun", "Jul_Dec")
        ]
        return fetch_http_to_stage(self.spark, urls, self.data_path)

    # -- EP1b: weather (ETL.py:101-330) -----------------------------------
    def get_station_df(self) -> DataFrame:
        """Reference ETL.py:133 — fixed-width GHCN station inventory."""
        from .sources.fixed_width import read_stations

        return read_stations(self.spark, self.station_file)

    def dly_convert(self) -> DataFrame:
        """Reference ETL.py:101 — parse the 128-column GHCN ``.dly``
        fixed-width layout into (ID, YEAR, MONTH, ELEMENT, VALUE1..31)."""
        from .sources.fixed_width import read_dly

        return read_dly(self.spark, self.ghcd_path)

    def generate_weather(
        self,
        stations: DataFrame | None = None,
        daily_wide: DataFrame | None = None,
        ring: list[tuple[float, float]] | None = None,
    ) -> DataFrame:
        """Reference ETL.py:317 — the full station-scoped melt → pivot
        → clean → gap-fill → calendar → enrich chain (combine_stations
        + filter_weather + get_pivotdf + fill_missing + date_cleanup +
        add_location composed, as the reference's method does)."""
        from .operators.spatial import load_polygon
        from .plans.weather_pipeline import weather_pipeline

        if ring is None:
            # reference ETL.py:153 loads the MISO footprint GeoJSON
            ring = load_polygon(self.config.miso_geojson)
        return weather_pipeline(
            stations if stations is not None else self.get_station_df(),
            daily_wide if daily_wide is not None else self.dly_convert(),
            ring,
            year_range=(self.start_year, self.end_year),
        )

    def fill_missing(self, df: DataFrame, limit: int = 7) -> DataFrame:
        """Reference ETL.py:228 — bounded forward-fill per station."""
        from .plans.weather_pipeline import WEATHER_ELEMENTS, gap_fill

        cols = [c for c in df.columns if c in WEATHER_ELEMENTS]
        return gap_fill(df, cols, limit=limit)

    def date_cleanup(self, df: DataFrame) -> DataFrame:
        """Reference ETL.py:244 — keep real calendar dates (the
        reference hard-codes 2016-2024 leap years; the engine uses
        actual date semantics, SURVEY §7 risk 7)."""
        from .plans.weather_pipeline import valid_dates

        return valid_dates(df)

    def run(self, balance_sheet: bool, dly_convert: bool, create_weather: bool):
        """Reference ETL.py:332 — staged execution switchboard."""
        out = {}
        if balance_sheet:
            out["balance"] = self.balance_sheets()
        if dly_convert:
            out["daily"] = self.dly_convert()
        if create_weather:
            out["weather"] = self.generate_weather(
                daily_wide=out.get("daily")
            )
        return out


class BlockingTimeSeriesSplit:
    """Reference utils.py:8 — contiguous time blocks, the last
    ``val_size`` fraction of each block as validation.

    ``split`` yields (train_df, val_df) DataFrame pairs instead of the
    reference's positional index arrays (Spark rows have no position;
    the block boundaries come from the distributed rank in ml/cv.py,
    which the w7/m12 oracles pin against DuckDB's ntile)."""

    def __init__(self, n_splits: int = 5, val_size: float = 0.2):
        self.n_splits = n_splits
        self.val_size = val_size

    def split(
        self, df: DataFrame, order_cols: list[str], y=None
    ) -> Iterator[tuple[DataFrame, DataFrame]]:
        from .ml.cv import folds

        yield from folds(
            df, order_cols, n_folds=self.n_splits, val_frac=self.val_size
        )


class BayesianOptimization:
    """Reference optimization.py:35 — GP + LCB tuning over a cluster-
    evaluated objective.  ``maximize``/``tune`` runs ml/bayesopt.py's
    loop (driver-side GP on scalar points, each objective evaluation a
    distributed blocked-CV metric — the m13 gates pin behavior)."""

    def __init__(self, config: BayesianOptimizationConfig):
        self.config = config
        self.searched_params: dict = {}

    def tune(
        self,
        spark: SparkSession | None = None,
        data: DataFrame | None = None,
    ):
        """``data``/``spark`` are stashed on the instance for the
        objective to read (the reference's objective closes over
        ``config.data`` the same way); explicit 0 values for seed and
        search_size are honored, not treated as unset."""
        from .ml.bayesopt import bayes_opt

        self.spark, self.data = spark, data
        cfg = self.config
        result = bayes_opt(
            objective=cfg.objective,
            bounds=cfg.hp_bounds,
            n_iter=cfg.search_size if cfg.search_size is not None else 10,
            seed=cfg.seed if cfg.seed is not None else 7,
        )
        self.searched_params = result
        return result

    # the reference exposes the loop as maximize-style entry points
    maximize = tune


class ConsumptionForecasterTrainer:
    """Reference LSTM.py:51 — sequence-model training.

    Delegates to ml/lstm.py: the numpy trainer (full BPTT + Adam,
    gradient-checked) in this container, the torch tier where torch
    exists; ``fit`` consumes the (X, y) tensors of the distributed
    sequence dataset (ml/lstm.py::sequence_dataset)."""

    def __init__(self, config=None):
        self.config = config or _AttrBag()
        self.model = None
        self.history = None

    # reference config names → ml/lstm.py trainer names
    _PARAM_MAP = {
        "hidden": "hidden_size",
        "hidden_size": "hidden_size",
        "layers": "num_layers",
        "num_layers": "num_layers",
        "lr": "lr",
        "epochs": "epochs",
        "seed": "seed",
        "dropout": "dropout",
    }

    def fit(self, X, y):
        from .ml.lstm import lstm_train

        params = {
            self._PARAM_MAP[k]: v
            for k, v in vars(self.config).items()
            if k in self._PARAM_MAP and v is not None
        }
        self.model, self.history = lstm_train(X, y, params or None)
        return self

    def predict(self, X):
        if self.model is None:
            raise RuntimeError("fit() first")
        return self.model.predict(X)
