"""Round-6 evaluation gates for the remaining rows-only model fits.

VERDICT round-5 item 5: every gate here turns a solver-shaped query
(gradient descent, L-BFGS, SOM, grid sweeps — no SQL-expressible
answer) into a HASH-CHECKED row by the established m3/m5/m10 pattern:
the Spark side recomputes the fit and emits (a) corpus statistics the
DuckDB oracle derives independently in SQL and (b) boolean verdicts of
invariants the algorithm must satisfy (loss decrease, Shapley
efficiency, segmentation identity, grid completeness).  A kernel
regression flips a boolean or shifts a count and the driver's
value-hash fails.

Gates whose training executes at DataFrame-construction time are
FIT-class for construction purity (tests/test_construction_purity.py);
the rest fold their fit into the returned plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import single_task
from . import query
from ._util import shared_plan, tbl
from .ml_queries import (
    _finite_positive,
    _gbt_shapley_inputs,
    _lstm_fit_forecast,
    _lstm_sequences,
    _som_units,
)
from .more_relational import m16_ablation, m17_sensitivity
from .text import STOPWORDS

_SEQ_LEN = 14
_HORIZON = 7


@query(
    "m11_lstm_eval",
    oracle=f"""
    SELECT GREATEST(CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
                    - {_SEQ_LEN}, 0) AS n_windows,
           TRUE AS loss_decreased,
           TRUE AS forecast_in_band,
           CAST({_HORIZON} AS INT) AS horizon
    FROM orders
    """,
)
def m11_lstm_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the in-container LSTM (rows-only m11_lstm_forecast):
    the window count is SQL truth (full {seq}-windows with a next-day
    label = n_days − {seq}), and the fixed-seed NumpyLSTM fit must (a)
    END with a lower training MSE than it STARTED (Adam on a smooth
    objective from the deterministic seed — a broken gradient/BPTT
    path flips this) and (b) keep the recursive 7-step forecast inside
    a generous scaled band (min-max-scaled inputs live in [0, 1]; a
    diverging recursion leaves ±1 around it immediately).

    ONE lazy plan since r9 (same shape as m11_lstm_forecast): scalars
    attach in-plan, the bounded training set folds through a
    1-partition mapInPandas running the identical trainer, verdicts
    emitted from the fold — zero construction jobs."""
    seq, _ = _lstm_sequences(spark, sf_dir, _SEQ_LEN)

    def fold(pdf):
        import pandas as pd

        if not len(pdf):
            return None
        n_windows, history, preds = _lstm_fit_forecast(pdf, _SEQ_LEN, _HORIZON)
        return pd.DataFrame(
            [
                {
                    "n_windows": n_windows,
                    "loss_decreased": bool(history[-1] < history[0]),
                    "forecast_in_band": bool(
                        all(-1.0 <= p <= 2.0 for p in preds)
                    ),
                    "horizon": _HORIZON,
                }
            ]
        )

    return single_task.run(
        seq,
        fold,
        "n_windows long, loss_decreased boolean, forecast_in_band boolean,"
        " horizon int",
    )


@query(
    "m15_shap_eval",
    oracle="""
    SELECT LEAST(GREATEST(CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE))
                               AS BIGINT) - 7, 0), 5) AS n_explained,
           TRUE AS efficiency_ok
    FROM orders
    """,
)
def m15_shap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the Shapley pipeline (rows-only m15_shap_gbt /
    m15_kernel_shap): exact interventional Shapley values MUST satisfy
    the efficiency axiom Σᵢ φᵢ(x) = f(x) − E_background[f] for every
    explained row (Shapley 1953; Lundberg & Lee 2017 property 1) —
    recomputed here against the REAL fitted GBT model, so the gate
    exercises model transform, the coalition grid, and the φ
    aggregation end to end.  n_explained is SQL truth: the newest 5 of
    the n_days − 7 rows that have a full lag_7 history (the inner
    per-lag joins drop shorter histories)."""
    from ..ml.analysis import shapley_values

    predict, explain, background, cols = _gbt_shapley_inputs(spark, sf_dir, 64)
    phi = shapley_values(predict, explain, background, cols, id_col="__sid")
    sums = phi.groupBy("__sid").agg(F.sum("phi").alias("sum_phi"))
    fx = predict(explain).select("__sid", F.col("prediction").alias("fx"))
    ef = float(
        predict(background.withColumn("__sid", F.lit("bg")))
        .agg(F.avg("prediction"))
        .first()[0]
    )
    checked = sums.join(fx, "__sid").select(
        (
            F.abs(F.col("sum_phi") - (F.col("fx") - F.lit(ef)))
            <= 1e-6 * F.greatest(F.abs(F.col("fx") - F.lit(ef)), F.lit(1.0))
        ).alias("ok")
    )
    agg = checked.agg(
        F.count("*").alias("n_explained"),
        F.min("ok").alias("efficiency_ok"),
    )
    return agg.select(
        F.col("n_explained").cast("long").alias("n_explained"),
        "efficiency_ok",
    )


@query(
    "m16_ablation_eval",
    oracle="""
    SELECT * FROM (VALUES
      ('drop_price',  TRUE),
      ('drop_volume', TRUE),
      ('none',        TRUE)
    ) t(config, mae_ok)
    """,
)
def m16_ablation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the ablation (rows-only m16_ablation): the config set
    must be exactly the baseline plus one drop per feature group (a
    broken loop drops or duplicates a config and the row hash fails),
    and every blocked-CV MAE must be a finite positive double (a
    leaked empty fold or a NaN objective flips mae_ok).  A projection
    of m16_ablation's rows."""
    return m16_ablation(spark, sf_dir).select(
        "config", _finite_positive(F.col("cv_mae")).alias("mae_ok")
    )


@query(
    "m17_sensitivity_eval",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS INT), TRUE), (CAST(3 AS INT), TRUE),
      (CAST(7 AS INT), TRUE), (CAST(14 AS INT), TRUE)
    ) t(p, mae_ok)
    """,
)
def m17_sensitivity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the sensitivity sweep (rows-only m17_sensitivity): the
    grid must come back complete with a finite positive CV MAE per
    configuration — a sweep that skips, duplicates, or NaN-poisons a
    cell fails the hash.  A projection of m17_sensitivity's rows."""
    return m17_sensitivity(spark, sf_dir).select(
        "p", _finite_positive(F.col("cv_mae")).alias("mae_ok")
    )


@query(
    "m21_som_eval",
    oracle="""
    WITH md AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
             COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS nd
      FROM orders GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_series,
           TRUE AS assignments_complete,
           TRUE AS bmu_in_grid,
           TRUE AS codebook_finite
    FROM md WHERE nd >= 28
    """,
)
def m21_som_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the SOM (rows-only m21_som_map): the series count is SQL
    truth (months with ≥ 28 observed days — the complete-28-day-series
    rule m21/m5 share), every such series must receive exactly one BMU
    with coordinates inside the declared grid, and the trained
    codebook must be finite everywhere (a diverged update or an
    indexing bug off the grid flips a boolean).  One aggregate over the
    single-task fit's per-month rows (ml_queries._som_units): zero
    construction jobs, and one row even when no month qualifies."""
    units = _som_units(spark, sf_dir)
    in_grid = F.col("bmu_row").between(0, F.col("grid_rows") - 1) & F.col(
        "bmu_col"
    ).between(0, F.col("grid_cols") - 1)
    return units.agg(
        F.count("*").alias("n_series"),
        F.coalesce(F.count("*") == F.max("n_fit"), F.lit(True)).alias(
            "assignments_complete"
        ),
        F.coalesce(F.bool_and(in_grid), F.lit(True)).alias("bmu_in_grid"),
        F.coalesce(F.bool_and("codebook_finite"), F.lit(True)).alias(
            "codebook_finite"
        ),
    )


@query(
    "pipeline_unigram_eval",
    oracle=r"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
      FROM documents
    )
    SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words,
           TRUE AS roundtrip_ok,
           TRUE AS pieces_positive
    FROM w
    WHERE regexp_full_match(w, '[a-z]+') AND length(w) >= 2
    """,
)
def pipeline_unigram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the unigram-LM tokenizer (rows-only
    pipeline_unigram_encode): the distinct-word vocabulary size is SQL
    truth, and the Viterbi segmentation must satisfy the concatenation
    identity — the pieces of EVERY word join back to the word exactly
    (the closed-vocabulary guarantee: single characters are always
    retained, so every word is segmentable) — with at least one piece
    per word.  A drifted piece inventory, a broken DP backtrace, or a
    lost word flips a boolean or the count."""
    from .lm import UNIGRAM_MAX_LEN, UNIGRAM_ROUNDS, UNIGRAM_TOP_V, _vocab
    from ..operators.unigram import learn_unigram, unigram_encode_words

    vocab = shared_plan(_vocab(spark, sf_dir), width=4)  # vocab-sized
    logp = learn_unigram(
        vocab,
        rounds=UNIGRAM_ROUNDS,
        max_len=UNIGRAM_MAX_LEN,
        top_v=UNIGRAM_TOP_V,
    )
    encoded = unigram_encode_words(vocab, logp, max_len=UNIGRAM_MAX_LEN)
    agg = encoded.agg(
        F.count("*").alias("n_words"),
        F.min(
            F.concat_ws("", F.col("pieces")) == F.col("w")
        ).alias("roundtrip_ok"),
        F.min(F.col("n_pieces") >= 1).alias("pieces_positive"),
    )
    return agg.select(
        F.col("n_words").cast("long").alias("n_words"),
        "roundtrip_ok",
        "pieces_positive",
    )


@query(
    "pipeline_classifier_eval",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS a,
             text
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             CAST(len(list_filter(a, x -> list_contains({STOPWORDS!r}, x)))
                  AS DOUBLE) / GREATEST(len(a), 1) AS stop_ratio,
             CAST(len(list_distinct(a)) AS DOUBLE)
               / GREATEST(len(a), 1) AS distinct_ratio
      FROM f
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN stop_ratio >= 0.05 AND distinct_ratio >= 0.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           TRUE AS acc_beats_majority
    FROM feats
    """,
)
def pipeline_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the weak-supervision quality classifier (rows-only
    pipeline_quality_classifier): the weak-label rule itself is pure
    SQL, so the oracle pins the corpus size AND the exact positive
    count — any drift in tokenization, the stopword list, or the label
    thresholds breaks the hash — while the trained logistic model must
    score at-or-above the majority-class baseline on its own training
    labels (L-BFGS on linearly-informative features; a broken
    assembler, a flipped label, or a diverged fit drops below it)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    docs = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", "text", toks.alias("a"))
        .select(
            "doc_id",
            F.size("a").cast("double").alias("n_tokens"),
            (
                F.size(F.filter("a", lambda w: w.isin(STOPWORDS)))
                / F.greatest(F.size("a"), F.lit(1))
            ).alias("stop_ratio"),
            (
                F.size(F.array_distinct("a"))
                / F.greatest(F.size("a"), F.lit(1))
            ).alias("distinct_ratio"),
            (
                F.length(F.regexp_replace("text", r"[^0-9]", ""))
                / F.greatest(F.length("text"), F.lit(1))
            ).alias("digit_frac"),
        )
    )
    labeled = docs.withColumn(
        "label",
        (
            (F.col("stop_ratio") >= 0.05) & (F.col("distinct_ratio") >= 0.5)
        ).cast("double"),
    ).persist()
    feat_cols = ["n_tokens", "stop_ratio", "distinct_ratio", "digit_frac"]
    assembled = VectorAssembler(
        inputCols=feat_cols, outputCol="features"
    ).transform(labeled)
    model = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        maxIter=25,
        regParam=0.01,
        standardization=True,
    ).fit(assembled)
    scored = model.transform(assembled)
    stats = scored.agg(
        F.count("*").alias("n_docs"),
        F.sum("label").cast("long").alias("n_pos"),
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias(
            "acc"
        ),
    ).first()
    labeled.unpersist()
    n_docs, n_pos, acc = stats["n_docs"], stats["n_pos"], stats["acc"]
    majority = max(n_pos, n_docs - n_pos) / n_docs if n_docs else 1.0
    return spark.createDataFrame(
        [(n_docs, n_pos, bool(acc >= majority - 1e-9))],
        "n_docs long, n_pos long, acc_beats_majority boolean",
    )


@query(
    "m9_arima_eval",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT)
             AS n_days,
           TRUE AS fit_improves,
           TRUE AS phi_stationary,
           TRUE AS forecast_ok
    FROM lineitem GROUP BY 1
    """,
)
def m9_arima_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the headline ARIMA(3,1,4)+exog estimator (rows-only
    m9_arima_full — the reference's best model order,
    ARIMA_params.json:1): per returnflag series the CSS fit must

    * beat the constant-mean model on the differenced series
      (``fit_improves`` — the multi-start includes the mean-only
      start, so a broken refinement loses to its own initialization;
      5% slack covers the conditional-span difference),
    * keep the AR polynomial stationary (``phi_stationary`` — the CSS
      objective does NOT constrain MA invertibility, so only the
      exact-MLE reference enforces that; measured: the fitted theta is
      routinely non-invertible at the near-cancelling (3,4) order), and
    * produce a finite 14-step forecast (``forecast_ok``).

    The fit runs on the most recent 512 days of each series (the
    invariants are scale-free; a full-length fit tripled the gate's
    wall-clock for no additional evidence).  n_days per series is SQL
    truth over the FULL series.  The fit itself is pinned against
    the committed Kalman-MLE goldens and the round-6 hand-derived
    external fixtures in tests/; this gate is the REGISTERED
    hash-checked row for the family.

    Since r9 the per-flag fits run DISTRIBUTED — one grouped
    applyInPandas, one fit per returnflag group, zero construction
    jobs (previously the gate collected every daily row and looped on
    the driver)."""

    daily = (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", F.to_date("l_shipdate").alias("d"))
        .agg(
            F.sum("l_quantity").cast("double").alias("qty"),
            F.avg(F.col("l_discount").cast("double")).alias("avg_disc"),
        )
    )

    def fit(pdf):
        import numpy as np
        import pandas as pd

        from energy_consumption_forecasting_spark.ml.forecast import (
            _arma_fit_forecast,
            _best_css_fit,
        )
        from energy_consumption_forecasting_spark.ml.kalman_arima import (
            _roots_ok,
        )

        pdf = pdf.sort_values("d")
        flag = pdf["l_returnflag"].iloc[0]
        n_days = len(pdf)
        tail = pdf.iloc[-512:]
        y = tail["qty"].to_numpy(dtype=np.float64)
        X = tail["avg_disc"].to_numpy(dtype=np.float64)[:, None]
        z, Xz = np.diff(y), X[1:]
        c, phi, theta, beta, resid = _best_css_fit(z, Xz, 3, 4)
        fit_sse = float(resid @ resid)
        naive = z[-len(resid):] - z.mean()
        naive_sse = float(naive @ naive)
        fc = _arma_fit_forecast(y, X, 3, 1, 4, 14)
        return pd.DataFrame(
            [
                {
                    "l_returnflag": flag,
                    "n_days": n_days,
                    "fit_improves": bool(fit_sse <= 1.05 * naive_sse),
                    "phi_stationary": bool(_roots_ok(phi)),
                    "forecast_ok": bool(
                        len(fc) == 14 and np.isfinite(fc).all()
                    ),
                }
            ]
        )

    return daily.groupBy("l_returnflag").applyInPandas(
        fit,
        "l_returnflag string, n_days long, fit_improves boolean,"
        " phi_stationary boolean, forecast_ok boolean",
    )
