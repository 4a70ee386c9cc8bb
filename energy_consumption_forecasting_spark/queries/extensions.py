"""Extension operator queries: spatial predicate (F8/J6), multimodal
column plumbing, and the Structured-Streaming daily rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import query
from ..operators.multimodal import (
    documents_as_media,
    extract_features,
    payload_stats,
    resize_images,
    sample_frames,
)
from ..operators.spatial import filter_in_polygon
from ._util import STAGE_DIR, tbl

# Diamond (rhombus) test polygon over the events (value, user_id) plane.
# Chosen so containment has the closed form |x−cx|/a + |y−cy|/b < 1,
# which the DuckDB oracle states directly, while the Spark side runs the
# general ray-casting UDF — the two agree on every non-boundary point,
# and the .005 center offsets keep 2-decimal/integer data off the
# boundary.
_CX, _CY, _A, _B = 10.005, 50.005, 6.0, 35.0
_DIAMOND = [(_CX + _A, _CY), (_CX, _CY + _B), (_CX - _A, _CY), (_CX, _CY - _B)]


# --- F8/J6: point-in-polygon spatial semi-join (ETL.py:143-162) -----------------
@query(
    "f8_spatial_filter",
    oracle=f"""
    SELECT event_id, value AS x, CAST(user_id AS DOUBLE) AS y
    FROM events
    WHERE abs(value - {_CX}) / {_A} + abs(user_id - {_CY}) / {_B} < 1
    """,
)
def f8_spatial_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General ray-casting point-in-polygon UDF (broadcast ring, Arrow
    batches) behind a bounding-box Catalyst pre-filter — the reference's
    per-row shapely contains() loop as a vectorized semi-join."""
    ev = tbl(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("x"),
        F.col("user_id").cast("double").alias("y"),
    )
    return filter_in_polygon(ev, "x", "y", _DIAMOND).select("event_id", "x", "y")


# --- multimodal plumbing ----------------------------------------------------------
@query(
    "mm_payload_stats",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash,
           CAST(length(text) % 640 AS INT) AS width,
           CAST(length(text) % 480 AS INT) AS height
    FROM documents
    """,
)
def mm_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary metadata pass: size + content hash; the payload column is
    projected away immediately (check ReadSchema — bytes never shuffle)."""
    media = documents_as_media(tbl(spark, sf_dir, "documents", spread="doc_id"))
    return payload_stats(media)


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id AS media_id, unnest(range(0, length(text) % 30, 5)) AS frame_idx
    FROM documents
    WHERE length(text) % 30 > 0
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-driven frame sampling (every 5th frame) — the index plan
    needs no decode at all."""
    media = documents_as_media(tbl(spark, sf_dir, "documents", spread="doc_id"))
    return sample_frames(media, every_n=5).select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx")
    )


# The fake decoder (operators/multimodal.py::_decode_bytes) is pure
# byte arithmetic, so DuckDB can recompute it: bytes of the UTF-8
# payload extracted via hex-digit positions, side = floor(sqrt(min(nb,
# 1024))) (empty payload → the 4x4 zero frame).  Shared CTE prefix for
# both mm oracles below.
_MM_DECODE_SQL = """
    b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             LEAST(octet_length(encode(text)), 1024) AS nb
      FROM documents
    ),
    dims AS (
      SELECT doc_id, hx, nb,
             CASE WHEN nb = 0 THEN 4
                  ELSE GREATEST(CAST(FLOOR(SQRT(CAST(nb AS DOUBLE))) AS INT), 1)
             END AS side
      FROM b
    )"""


@query(
    "mm_extract_features",
    oracle=f"""
    WITH {_MM_DECODE_SQL},
    idx AS (
      SELECT doc_id, hx, unnest(range(0, CAST(side AS BIGINT) * side)) AS i
      FROM dims WHERE nb > 0
    ),
    px AS (
      SELECT doc_id,
             16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
                + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS v
      FROM idx
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(v) AS BIGINT) AS s,
             CAST(SUM(v * v) AS BIGINT) AS ssq
      FROM px GROUP BY doc_id
    )
    SELECT d.doc_id AS media_id, 'image' AS kind,
           COALESCE(a.s, 0) AS px_sum,
           COALESCE(a.ssq, 0) AS px_sumsq,
           CAST(COALESCE(a.s, 0) AS DOUBLE) / (d.side * d.side) AS feat_mean,
           SQRT(GREATEST(
             CAST(COALESCE(a.ssq, 0) AS DOUBLE) / (d.side * d.side)
             - (CAST(COALESCE(a.s, 0) AS DOUBLE) / (d.side * d.side))
               * (CAST(COALESCE(a.s, 0) AS DOUBLE) / (d.side * d.side)),
             0.0)) AS feat_std,
           CAST(d.side AS INT) AS decoded_h,
           CAST(d.side AS INT) AS decoded_w
    FROM dims d LEFT JOIN agg a USING (doc_id)
    """,
)
def mm_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode + feature extraction via mapInPandas.  The
    decode kernel is a deterministic fake (media libs absent — see
    operators/multimodal.py); batching/partitioning/schema are real.

    Hash-checked since round 4: the kernel emits EXACT int64 pixel
    moments and derives mean/std in a fixed 3-op IEEE sequence, so the
    DuckDB oracle recomputing the same bytes reproduces every column
    bit-for-bit (closes the r3 `no_oracle` gap)."""
    media = documents_as_media(tbl(spark, sf_dir, "documents", spread="doc_id"))
    return extract_features(media)


@query(
    "mm_resize",
    oracle=f"""
    WITH {_MM_DECODE_SQL},
    ab AS (
      SELECT doc_id, hx, nb, side, unnest(range(0, 8)) AS a FROM dims
    ),
    idxs AS (
      -- np.linspace(0, side-1, 8).astype(int): step=(side-1)/7 in
      -- double, y = a*step truncated — EXCEPT the endpoint, which
      -- linspace pins to side-1 exactly
      SELECT doc_id, hx, nb, side,
             CASE WHEN a = 7 THEN CAST(side - 1 AS BIGINT)
                  ELSE CAST(FLOOR(a * ((side - 1) / 7.0)) AS BIGINT)
             END AS ix
      FROM ab
    ),
    cells AS (
      SELECT r.doc_id, r.hx, r.nb, r.side, r.ix AS ry, c.ix AS cx
      FROM idxs r JOIN idxs c USING (doc_id)
    ),
    vals AS (
      SELECT doc_id,
             CASE WHEN nb = 0 THEN 0
                  ELSE 16 * (strpos('0123456789abcdef',
                               substr(hx, CAST(2*(ry*side+cx)+1 AS INT), 1)) - 1)
                          + (strpos('0123456789abcdef',
                               substr(hx, CAST(2*(ry*side+cx)+2 AS INT), 1)) - 1)
             END AS v
      FROM cells
    )
    SELECT doc_id AS media_id, CAST(COUNT(*) AS INT) AS n_px,
           CAST(SUM(v) AS BIGINT) AS px_checksum
    FROM vals GROUP BY doc_id
    """,
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → 8×8 nearest-neighbor resize → array column; the gate
    emits the pixel count and the exact integer checksum of the resized
    frame (pixel values are uint8-exact floats), which the DuckDB
    oracle recomputes byte-for-byte (closes the r3 `no_oracle` gap)."""
    media = documents_as_media(tbl(spark, sf_dir, "documents", spread="doc_id"))
    resized = resize_images(media, (8, 8))
    return resized.select(
        "media_id",
        F.size("pixels").alias("n_px"),
        F.expr(
            "aggregate(pixels, 0L, (acc, x) -> acc + CAST(x AS BIGINT))"
        ).alias("px_checksum"),
    )


# --- Structured Streaming daily rollup ----------------------------------------------
@query(
    "stream_daily_rollup",
    oracle="""
    SELECT CAST(ts AS DATE) AS d, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1 daily aggregate through the Structured Streaming engine
    (watermark + 1-day tumbling window, availableNow drain): on a static
    directory the final state equals the batch aggregate, which is
    exactly what the oracle asserts."""
    from ..session import ensure_utc
    from ..streaming.daily_rollup import run_available_now

    ensure_utc(spark)
    return run_available_now(spark, sf_dir.rstrip("/"), glob="events.parquet")


# --- Structured Streaming exact dedup -----------------------------------------------
@query(
    "stream_dedup_exact",
    oracle="""
    SELECT DISTINCT md5(text) AS text_hash FROM documents
    """,
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online exact dedup: ``dropDuplicatesWithinWatermark`` on the md5
    content hash (streaming/dedup_stream.py) — the LLM-ingest shape
    where duplicates are dropped as documents arrive, with state bounded
    by the watermark horizon.  Which doc_id survives a duplicate group
    is arrival-order-dependent, so the gate asserts the deterministic
    part: exactly one survivor per distinct content hash."""
    from ..session import ensure_utc
    from ..streaming.dedup_stream import run_dedup_available_now

    ensure_utc(spark)
    survivors = run_dedup_available_now(
        spark, sf_dir.rstrip("/"), glob="documents.parquet"
    )
    return survivors.select("text_hash")


# --- native session windows (batch + streaming twins) --------------------------
_SESSION_SQL = """
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  OR epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                       >= 30 * 60 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT *,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id,
           CAST(epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS BIGINT)
             AS session_start_us,
           CAST(epoch_us(CAST(MAX(ts) AS TIMESTAMP)) + 30 * 60 * 1000000
                AS BIGINT) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sessions GROUP BY user_id, sid
"""


@query("w_session_window_native", oracle=_SESSION_SQL)
def w_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native dynamic-gap session windows (``F.session_window``) — the
    engine-managed twin of the lag/cumsum sessionization in
    ``w_sessionize``.  One shuffle on user_id, per-key in-memory merge.
    NOTE the boundary: session windows are [first, last+gap) and merge
    on overlap, so a gap of exactly 30min splits — the oracle islands
    on ``gap >= 30min``, not ``>``."""
    from ..streaming.session_stream import session_agg

    return session_agg(tbl(spark, sf_dir, "events"))


@query("stream_session_window", oracle=_SESSION_SQL)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sessionization run through Structured Streaming
    (watermarked session_window state, availableNow drain) — equals
    the batch result on a static directory, which the shared oracle
    asserts."""
    from ..session import ensure_utc
    from ..streaming.session_stream import run_sessions_available_now

    ensure_utc(spark)
    return run_sessions_available_now(spark, sf_dir.rstrip("/"), glob="events.parquet")


# --- stream-stream interval join (view -> purchase attribution) ----------------
_ATTRIB_SQL = """
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS purchase_id,
           CAST(epoch_us(CAST(b.ts AS TIMESTAMP))
                - epoch_us(CAST(a.ts AS TIMESTAMP)) AS BIGINT) AS lag_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
"""


@query("j_interval_attribution", oracle=_ATTRIB_SQL)
def j_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the attribution interval self-join
    (streaming/attribution_stream.py): purchases matched to same-user
    views in the preceding hour.  The equi-key (user_id) carries the
    shuffle; the time range rides the join condition."""
    from ..streaming.attribution_stream import attribution_join

    ev = tbl(spark, sf_dir, "events")
    return attribution_join(ev, ev)


@query("stream_interval_attribution", oracle=_ATTRIB_SQL)
def stream_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same attribution join as a stream-stream join: both sides
    buffered in watermark-bounded state, drained availableNow over the
    static directory — equals the batch join, per the shared oracle."""
    from ..session import ensure_utc
    from ..streaming.attribution_stream import run_attribution_available_now

    ensure_utc(spark)
    return run_attribution_available_now(
        spark, sf_dir.rstrip("/"), glob="events.parquet"
    )


# --- JSON column extraction (events.props) -------------------------------------
@query(
    "f_json_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def f_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: the events payload column is a JSON
    string; ``from_json`` with an explicit schema (the scalable path —
    schema'd parse compiles to a typed struct getter, vs
    get_json_object re-parsing per field) feeds integer aggregates.
    Exact-int outputs keep both engines bit-identical."""
    from pyspark.sql import types as T

    ev = tbl(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(
            "props", T.StructType([T.StructField("k", T.LongType())])
        )["k"].alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


# --- Structured Streaming trailing z-score anomaly ----------------------------------
@query(
    "stream_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS xc
      FROM events GROUP BY 1, 2
    ),
    win AS (
      SELECT event_type, d, xc,
             COUNT(*) OVER w AS n,
             MIN(d) OVER w AS d_min, MAX(d) OVER w AS d_max,
             SUM(CAST(xc AS HUGEINT)) OVER w AS s1,
             SUM(CAST(xc AS HUGEINT) * CAST(xc AS HUGEINT)) OVER w AS s2
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, d, CAST(xc AS DOUBLE) / 100.0 AS day_total,
           CAST(7 * xc - s1 AS DOUBLE) / sqrt(CAST(7 * s2 - s1 * s1 AS DOUBLE)) AS z
    FROM win
    WHERE n = 7 AND d_min = d - 7 AND d_max = d - 1 AND (7 * s2 - s1 * s1) > 0
    """,
)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily totals scored against the trailing 7 observed days
    INSIDE the streaming engine (applyInPandasWithState; streaming/
    anomaly_stream.py), drained availableNow.  The oracle recomputes the
    identical exact-integer z in SQL — a strict bit-level check that the
    stateful streaming path equals batch semantics, including the
    contiguity condition (all 7 prior days present)."""
    from ..session import ensure_utc
    from ..streaming.anomaly_stream import run_anomaly_available_now

    ensure_utc(spark)
    return run_anomaly_available_now(spark, sf_dir.rstrip("/"), glob="events.parquet")


# --- streaming incremental rollup into a snapshot-versioned store -------------------
@query(
    "stream_incremental_rollup",
    oracle="""
    SELECT CAST(ts AS DATE) AS d, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM events GROUP BY 1, 2
    """,
)
def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch incremental materialization: each micro-batch folds
    its delta into the re-aggregable daily state and commits a snapshot
    (streaming/incremental_rollup.py).  The final snapshot must equal
    the one-shot batch aggregate — additive-state exactness across any
    batch split (the multi-batch case is pytest-proven)."""
    import os
    import shutil

    from ..session import ensure_utc
    from ..streaming.incremental_rollup import run_incremental_rollup

    ensure_utc(spark)
    table = os.path.join(
        STAGE_DIR, "incr_rollup", os.path.basename(sf_dir.rstrip("/"))
    )
    shutil.rmtree(table, ignore_errors=True)
    out = run_incremental_rollup(spark, sf_dir.rstrip("/"), table)
    return out.select("d", "event_type", "n", "sum_cents")


# --- Structured Streaming stream-static enrichment join -----------------------------
@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment: the event stream joined to
    the customer dimension per micro-batch (no join state — only the
    downstream (segment, type) aggregate holds state), drained
    availableNow (streaming/enrich_stream.py).  The canonical
    enrich-at-ingest topology; equals the batch join+agg, which the
    oracle asserts with exact decimal sums."""
    from ..session import ensure_utc
    from ..streaming.enrich_stream import run_enrich_available_now

    ensure_utc(spark)
    customer = tbl(spark, sf_dir, "customer")
    return run_enrich_available_now(spark, sf_dir.rstrip("/"), customer)


# --- VariantType schema-less extraction ---------------------------------------------
@query(
    "f_variant_extract",
    oracle="""
    SELECT CAST(CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS BIGINT)
             AS k_band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k
    FROM events
    GROUP BY 1
    """,
)
def f_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-LESS semi-structured extraction via Spark 4's VARIANT
    type: ``parse_json`` encodes the payload once into the binary
    variant format (shreddable, columnar-friendly — the open lakehouse
    answer to schema-on-read JSON), ``variant_get`` pulls typed paths
    with no declared struct schema.  Complements f_json_extract (which
    is the declared-schema ``from_json`` path): variant is what you use
    when payloads drift and you cannot pin a schema at ingest.  Exact
    integer outputs (band = k // 10) keep the hash strict."""
    ev = tbl(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select(F.floor(k / 10).cast("long").alias("k_band"), k.alias("k"))
        .groupBy("k_band")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"))
    )


# --- Case-insensitive collation grouping (Spark 4) ----------------------------------
@query(
    "f_collation_ci_group",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                  ELSE event_type END AS cased
      FROM events
    )
    SELECT MIN(cased) AS variant_min,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT cased) AS BIGINT) AS n_case_variants
    FROM c
    GROUP BY lower(cased)
    """,
)
def f_collation_ci_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive aggregation via Spark 4 COLLATIONS: the group
    key is ``cased COLLATE UTF8_LCASE`` — the engine's comparator does
    the folding (hash/sort semantics change at the type level, so every
    downstream join/sort inherits it), unlike the classic
    ``lower(col)`` rewrite which burns a projection and loses the
    original spelling.  Mixed-case input is synthesized
    deterministically (even event_ids upper-cased).  The collated key
    itself is an arbitrary class representative, so the output emits
    the binary MIN variant instead — deterministic on both engines —
    plus the per-class case-variant count that proves the classes
    actually merged spellings.  Oracle folds with ``lower()``."""
    ev = tbl(spark, sf_dir, "events").select(
        F.when(
            F.col("event_id") % 2 == 0, F.upper("event_type")
        ).otherwise(F.col("event_type")).alias("cased")
    )
    return (
        ev.groupBy(F.expr("cased COLLATE UTF8_LCASE").alias("k"))
        .agg(
            F.min("cased").alias("variant_min"),
            F.count("*").alias("n"),
            F.countDistinct("cased").alias("n_case_variants"),
        )
        .select("variant_min", "n", "n_case_variants")
    )


# --- Structured Streaming MinHash near-dup ------------------------------------------
def _minhash_stream_oracle() -> str:
    from .dedup import _MINHASH_SQL, _SHINGLES_SQL

    return f"""
    WITH {_SHINGLES_SQL},
    {_MINHASH_SQL},
    firsts AS (
      SELECT band, bucket, MIN(doc_id) AS first, COUNT(*) AS n
      FROM bands GROUP BY band, bucket
    )
    SELECT b.doc_id, CAST(MIN(f.first) AS BIGINT) AS dup_of
    FROM bands b JOIN firsts f ON b.band = f.band AND b.bucket = f.bucket
    WHERE f.n >= 2 AND b.doc_id <> f.first
    GROUP BY b.doc_id
    """


@query("stream_minhash_dedup", oracle=_minhash_stream_oracle())
def stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online near-duplicate detection: MinHash banding sketched
    row-local ON the stream (bit-identical expressions to
    dedup_minhash_lsh) with first-writer-wins state per LSH bucket
    (streaming/minhash_stream.py).  On a static single-batch drain the
    per-doc verdict equals the batch banding truth — exactly what the
    oracle asserts; multi-batch arrival semantics are pinned in
    tests/test_minhash_stream.py."""
    from ..session import ensure_utc
    from ..streaming.minhash_stream import run_minhash_dedup_available_now

    ensure_utc(spark)
    return run_minhash_dedup_available_now(
        spark, sf_dir.rstrip("/"), glob="documents.parquet"
    )


# --- Structured Streaming left-outer stream-stream join ------------------------------
@query(
    "stream_abandoned_views",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS v_ts
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS p_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, view_id
    FROM v
    WHERE NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = v.user_id
              AND p.p_ts > v.v_ts
              AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
          )
      AND v_ts <= (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events)
                    - INTERVAL 2 HOUR
    """,
)
def stream_abandoned_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: views with NO purchase by the
    same user inside the attribution window (abandoned browses).  The
    hard half of stream-stream joins — an unmatched row is emitted
    only once the watermark proves no qualifying match can arrive, so
    the final rows flush via no-data micro-batches at drain end.

    Oracle = batch NOT EXISTS anti-join, restricted to views at least
    2 hours (join window + view-side watermark delay) before the last
    event: a later view's no-match outcome is not yet PROVABLE when
    the stream ends, so the engine correctly withholds it — the
    cutoff IS the watermark-finalization semantics, verified equal
    row-for-row."""
    from ..session import ensure_utc
    from ..streaming.attribution_stream import run_abandoned_available_now

    ensure_utc(spark)
    return run_abandoned_available_now(
        spark, sf_dir.rstrip("/"), glob="events.parquet"
    ).filter(
        F.col("view_id").isNotNull()  # no-op projection keeps names aligned
    )


# --- streaming sliding-window heavy hitters -----------------------------------------
@query(
    "stream_heavy_hitters",
    oracle="""
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS d, event_type FROM events
    ), expanded AS (
      -- 2-day windows sliding by 1 day: each event lands in the
      -- window starting on its own day and the one starting a day
      -- earlier (epoch-aligned, same as Spark's window())
      SELECT d - k * INTERVAL 1 DAY AS w_start, event_type
      FROM ev, LATERAL unnest(generate_series(0, 1)) AS t(k)
    ), counted AS (
      SELECT CAST(w_start AS DATE) AS w_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM expanded GROUP BY 1, 2
    ), ranked AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY w_start ORDER BY n DESC, event_type) AS r
      FROM counted
    )
    SELECT w_start, CAST(r AS INT) AS rnk, event_type, n
    FROM ranked WHERE r <= 3
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k through the streaming engine: 2-day windows
    sliding by 1 day, per-type counts in watermarked streaming state,
    deterministic top-3 per window (count DESC, type ASC) ranked on
    the drained aggregate.  Oracle = the identical sliding-window
    count in batch SQL — the stream==batch parity contract of the
    other stream gates."""
    from ..session import ensure_utc
    from ..streaming.heavy_hitters import run_heavy_hitters_available_now

    ensure_utc(spark)
    return run_heavy_hitters_available_now(
        spark, sf_dir.rstrip("/"), glob="events.parquet"
    )


# --- streaming Count-Min-Sketch heavy hitters ---------------------------------------
from .behavior import _CMS_ORACLE  # noqa: E402  (shared stream==batch oracle)


@query("stream_cms_heavyhitters", oracle=_CMS_ORACLE)
def stream_cms_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS heavy-hitter report through the streaming engine
    (streaming/cms_stream.py): per-micro-batch token occurrences fold
    into integer-additive sketch + count state, so the drained result
    is bit-identical to the one-shot batch sketch — asserted by
    sharing the batch query's oracle verbatim."""
    from ..session import ensure_utc
    from ..streaming.cms_stream import run_cms_available_now

    ensure_utc(spark)
    return run_cms_available_now(
        spark, sf_dir.rstrip("/"), glob="documents.parquet"
    )


# --- streaming per-source frequency cap ---------------------------------------------
from .pipeline_ops import SOURCE_CAP_ORACLE  # noqa: E402


@query("stream_source_cap", oracle=SOURCE_CAP_ORACLE)
def stream_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source capping through the streaming engine
    (streaming/source_cap_stream.py): each micro-batch's own top-k
    folds into per-source kept-set state via the min-k semilattice
    merge (sorted-union-truncate — associative, commutative,
    idempotent), so batch boundaries and arrival order cannot change
    the kept set.  Shares the batch operator's oracle verbatim."""
    import shutil
    import tempfile

    from ..session import ensure_utc
    from ..streaming.source_cap_stream import run_source_cap_available_now

    ensure_utc(spark)
    state_dir = tempfile.mkdtemp(prefix="ecf_srccap_state_")
    try:
        # the drain's result never reads state_dir, so the ephemeral
        # state table can be reclaimed before returning
        return run_source_cap_available_now(
            spark,
            sf_dir.rstrip("/"),
            state_dir,
            glob="documents.parquet",
        )
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


# --- Structured Streaming Markov transitions (event-time-ordered state) --------------
@query(
    "stream_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev
      FROM events
    )
    SELECT prev AS prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    """,
)
def stream_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of w_markov_transitions — the suite's only
    event-time-ORDERED stateful operator: per-user buffers sealed by
    the watermark, cumulative counts emitted update-mode, and the
    final unsealed tail recovered through Spark 4's statestore READER
    instead of sentinel rows (streaming/markov_stream.py).  The drained
    global matrix equals the batch lag-window truth exactly — the
    shared oracle asserts it hash-for-hash."""
    from ..session import ensure_utc
    from ..streaming.markov_stream import run_markov_available_now

    ensure_utc(spark)
    return run_markov_available_now(spark, sf_dir.rstrip("/"))


# --- Structured Streaming CUSUM control chart (ordered-seal pattern #2) ---------------
def _cusum_oracle() -> str:
    from .smoothing import ts_cusum_chart  # noqa: F401 — ensure registered

    from . import ORACLES

    return ORACLES["ts_cusum_chart"]


@query("stream_cusum_chart", oracle=_cusum_oracle())
def stream_cusum_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ts_cusum_chart — ordered-seal pattern #2
    (streaming/cusum_stream.py): per-type day buckets accumulate exact
    integer cents (additive — arrival order within a day is free), a
    day seals when the watermark passes its END, the recursion
    advances over sealed days emitting one final row each, and the
    unsealed tail continues from the persisted (cplus, cminus) state
    via the statestore reader.  Control limits are calibrated OFFLINE
    (stream-static: the exact-decimal per-type mean computed batch
    side) — the production control-chart topology — so the streamed
    chart shares the batch oracle verbatim."""
    from ..session import ensure_utc
    from ..streaming.cusum_stream import run_cusum_available_now

    ensure_utc(spark)
    daily = (
        tbl(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x")
        )
    )
    stats = daily.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count("*")).alias("mu")
    )
    # calibration ships as a DataFrame (stream-static join inside
    # cusum_stream) — constructing this query launches zero jobs
    return run_cusum_available_now(spark, sf_dir.rstrip("/"), stats)


@query(
    "mm_audio_rms",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lower(hex(encode(text))) AS hx,
             LEAST(octet_length(encode(text)), 1024) AS nb
      FROM documents
    ),
    idx AS (
      SELECT doc_id, hx, unnest(range(0, CAST(nb AS BIGINT))) AS i
      FROM b WHERE nb > 0
    ),
    samp AS (
      SELECT doc_id, i // 256 AS window_idx,
             16 * (strpos('0123456789abcdef', substr(hx, CAST(2*i+1 AS INT), 1)) - 1)
                + (strpos('0123456789abcdef', substr(hx, CAST(2*i+2 AS INT), 1)) - 1) AS v
      FROM idx
    )
    SELECT doc_id AS media_id, CAST(window_idx AS BIGINT) AS window_idx,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS amp_sum,
           CAST(SUM(v * v) AS BIGINT) AS amp_sumsq,
           SQRT(CAST(SUM(v * v) AS DOUBLE) / COUNT(*)) AS rms
    FROM samp GROUP BY doc_id, window_idx
    """,
)
def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing plumbing (SURVEY §7 multimodal): per-window RMS
    energy over 256-sample frames of the byte payload
    (operators/multimodal.py::audio_rms_windows — deterministic fake
    decode, real Arrow-batch/partitioning/schema contract).  Moments
    are exact int64 so the oracle recomputing the same bytes hash-
    matches, RMS included (one division + one sqrt)."""
    from ..operators.multimodal import audio_rms_windows, documents_as_media

    media = documents_as_media(tbl(spark, sf_dir, "documents", spread="doc_id"))
    return audio_rms_windows(media)


# --- streaming CDC apply into the versioned store (merge-on-read upserts) -----------
@query(
    "stream_cdc_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, CAST(ts AS DATE) AS last_d,
           CAST(v_c AS BIGINT) AS last_value_c
    FROM ranked WHERE rn = 1
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (streaming/upsert_stream.py): each
    micro-batch's latest row per user lands as ONE atomic merge-on-read
    upsert version (position-delete matched keys + append), with the
    lineage-scoped txn guard making replays no-ops.  The drained table
    must equal the batch latest-event-per-user — which the oracle
    computes from the raw events; the multi-batch overwrite chain is
    pytest-pinned (tests/test_upsert_stream.py)."""
    import os
    import shutil

    from ..session import ensure_utc
    from ..streaming.upsert_stream import run_cdc_upsert_available_now

    ensure_utc(spark)
    table = os.path.join(
        STAGE_DIR, "cdc_upsert", os.path.basename(sf_dir.rstrip("/"))
    )
    shutil.rmtree(table, ignore_errors=True)
    return run_cdc_upsert_available_now(spark, sf_dir.rstrip("/"), table)


# --- perceptual-hash near-duplicate grouping ----------------------------------------
@query(
    "mm_phash_dedup",
    oracle=f"""
    WITH {_MM_DECODE_SQL},
    ab AS (
      SELECT doc_id, hx, nb, side, unnest(range(0, 8)) AS a FROM dims
    ),
    idxs AS (
      SELECT doc_id, hx, nb, side, a,
             CASE WHEN a = 7 THEN CAST(side - 1 AS BIGINT)
                  ELSE CAST(FLOOR(a * ((side - 1) / 7.0)) AS BIGINT)
             END AS ix
      FROM ab
    ),
    cells AS (
      SELECT r.doc_id, r.hx, r.nb, r.side,
             r.a AS ra, c.a AS ca, r.ix AS ry, c.ix AS cx
      FROM idxs r JOIN idxs c USING (doc_id)
    ),
    vals AS (
      SELECT doc_id, ra, ca,
             CASE WHEN nb = 0 THEN 0
                  ELSE 16 * (strpos('0123456789abcdef',
                               substr(hx, CAST(2*(ry*side+cx)+1 AS INT), 1)) - 1)
                          + (strpos('0123456789abcdef',
                               substr(hx, CAST(2*(ry*side+cx)+2 AS INT), 1)) - 1)
             END AS v
      FROM cells
    ),
    hashes AS (
      SELECT doc_id,
             string_agg(CASE WHEN 64 * v >= s THEN '1' ELSE '0' END,
                        '' ORDER BY ra, ca) AS phash
      FROM (SELECT doc_id, ra, ca, v,
                   SUM(v) OVER (PARTITION BY doc_id) AS s
            FROM vals)
      GROUP BY doc_id
    )
    SELECT doc_id AS media_id, phash,
           CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS group_size
    FROM hashes
    """,
)
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate grouping by average-hash (aHash): the
    decoded frame is nearest-neighbor-resized to 8x8 (the SAME kernel
    mm_resize gates), each cell contributes bit 1 iff its pixel is >=
    the frame mean — the exact integer cross-product 64*v >= sum, no
    float threshold — and the 64-bit signature is kept as an
    engine-portable bitstring.  Images that survive crops/re-encodes
    with the same coarse luminance layout collide, which is how
    image-dedup passes over web-scale crawls actually bucket
    (aHash/pHash prefilter, then pairwise verify).

    Plan: decode+resize ride the existing Arrow mapInPandas kernel
    (payload bytes never shuffle past it); the signature is row-local
    column algebra; grouping is ONE hash partition on the 64-bit key.
    At 100 TB the phash groupBy is the scale path — candidate pairs
    come from equal signatures, never from pairwise image comparison."""
    media = documents_as_media(tbl(spark, sf_dir, "documents", spread="doc_id"))
    resized = resize_images(media, (8, 8))
    hashed = resized.withColumn(
        "s",
        F.expr("aggregate(pixels, 0L, (acc, x) -> acc + CAST(x AS BIGINT))"),
    ).select(
        "media_id",
        F.expr(
            "array_join(transform(pixels,"
            " x -> IF(64 * CAST(x AS BIGINT) >= s, '1', '0')), '')"
        ).alias("phash"),
    )
    w = Window.partitionBy("phash")
    return hashed.select(
        "media_id", "phash", F.count("*").over(w).alias("group_size")
    )


# --- hopping (sliding) time windows — native F.window coverage -----------------------
@query(
    "w_hopping_window",
    oracle="""
    WITH e AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
      FROM events
    ),
    hops AS (
      SELECT d - CAST(6 - i AS INT) AS window_start, v_c
      FROM e, unnest(range(0, 7)) t(i)
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v_c) AS BIGINT) AS sum_cents
    FROM hops GROUP BY 1
    """,
)
def w_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows via the NATIVE
    ``F.window(ts, '7 days', '1 day')`` generator — the tumbling/
    sliding-window aggregation Spark ships for both batch and
    streaming (this is the batch form; the session-gap sibling is
    w_session_window_native).  Every event lands in exactly 7
    day-aligned week windows; counts and exact integer cents per
    window.  The oracle reproduces Spark's epoch-aligned window starts
    by enumerating each event's 7 covering windows — identical
    semantics, so the gate hash-pins the native operator's alignment
    rule.

    Scale shape: the window generator is a row-local explode (7 rows
    per event) followed by one hash aggregation on day keys —
    calendar-bounded output, map-side combinable."""
    from ..session import ensure_utc

    ensure_utc(spark)
    ev = tbl(spark, sf_dir, "events")
    return (
        ev.select(
            F.window("ts", "7 days", "1 day").alias("w"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("v_c"),
        )
        .groupBy(F.to_date("w.start").alias("window_start"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v_c").cast("long").alias("sum_cents"),
        )
    )
