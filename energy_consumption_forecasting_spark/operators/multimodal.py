"""Multimodal (image/audio/video) column plumbing — SURVEY §7 phase 5.

Opaque ``binary`` payload columns + typed metadata structs, with
decode / feature-extract / resize / frame-sample as Arrow-batched
``mapInPandas`` stages.  The media codecs are NOT in this container, so
the decode kernels are deterministic fakes behind ``_decode_bytes``
(clearly marked); the Spark-side contract — schema, batch iteration,
partitioning, output shapes — is real and tested.

Scale notes: payloads never shuffle unless the operator needs them to —
metadata extraction projects away the bytes as early as possible."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter: treat the documents table as a binary-payload corpus so
    the plumbing is exercisable on the synthetic testdata.

    r10 (guide §4/§2.5): callers pass a scan spread on ``doc_id``
    (``tbl(..., spread="doc_id")``) so the payload column is built
    after the spread — every downstream decode kernel (mapInPandas)
    otherwise inherits the single-row-group scan's 1-task split and
    runs the whole corpus decode serially (stage profile:
    mm_phash_dedup = one 2.4 s task)."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            (F.length("text") % 640).cast("int").alias("width"),
            (F.length("text") % 480).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.length("text") % 30).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def payload_stats(df: DataFrame) -> DataFrame:
    """Metadata pass: byte size + content hash, payload pruned immediately
    after — the scan should show only the needed columns."""
    return df.select(
        "media_id",
        "kind",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("content_hash"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def _decode_bytes(payload: bytes, kind: str) -> np.ndarray:
    """DETERMINISTIC FAKE DECODER — media libraries are not available in
    this container.  Produces a stable pseudo-pixel array from the
    payload bytes so downstream shapes/statistics are testable.  Swap in
    PIL/librosa/av here when present; the operator contracts above and
    below do not change."""
    arr = np.frombuffer(payload[:1024], dtype=np.uint8)
    if len(arr) == 0:
        arr = np.zeros(16, dtype=np.uint8)
    side = int(np.sqrt(len(arr))) or 1
    return arr[: side * side].reshape(side, side).astype(np.float32)


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas decode + feature extraction: exact pixel moments +
    mean/std/shape per item.

    The moments are carried as EXACT int64 sums (``px_sum``,
    ``px_sumsq`` — pixel values are uint8, so the sums are associative
    integers), and the float features derive from them in a fixed IEEE
    sequence: ``mean = s/n``; ``std = sqrt(max(ssq/n - mean*mean, 0))``.
    A SQL engine computing the same integers and the same three float
    ops reproduces the doubles bit-for-bit, which is what makes the
    mm_extract_features gate hash-checkable cross-engine.

    Batches iterate as Arrow record batches; each worker decodes its
    partition's payloads without driver involvement."""
    import math

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("px_sum", T.LongType()),
            T.StructField("px_sumsq", T.LongType()),
            T.StructField("feat_mean", T.DoubleType()),
            T.StructField("feat_std", T.DoubleType()),
            T.StructField("decoded_h", T.IntegerType()),
            T.StructField("decoded_w", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # zip over columns, not iterrows: iterrows builds a pandas
        # Series per row and dominated the kernel (guide §4.2)
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                px = _decode_bytes(payload, kind)
                pi = px.astype(np.int64)
                s = int(pi.sum())
                ssq = int((pi * pi).sum())
                npx = pi.size
                mean = s / npx
                std = math.sqrt(max(ssq / npx - mean * mean, 0.0))
                out.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "px_sum": s,
                        "px_sumsq": ssq,
                        "feat_mean": mean,
                        "feat_std": std,
                        "decoded_h": int(px.shape[0]),
                        "decoded_w": int(px.shape[1]),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return df.mapInPandas(run, schema=schema)


def resize_images(df: DataFrame, size: tuple[int, int] = (8, 8)) -> DataFrame:
    """Decode → nearest-neighbor resize → re-emit as array column.
    (Resize math is plain numpy striding; a real image lib slots into
    ``_decode_bytes`` only.)"""
    h, w = size
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("pixels", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                px = _decode_bytes(payload, kind)
                yi = np.linspace(0, px.shape[0] - 1, h).astype(int)
                xi = np.linspace(0, px.shape[1] - 1, w).astype(int)
                out.append(
                    {"media_id": mid, "pixels": px[np.ix_(yi, xi)].ravel().tolist()}
                )
            yield pd.DataFrame(out, columns=["media_id", "pixels"])

    return df.mapInPandas(run, schema=schema)


def sample_frames(df: DataFrame, every_n: int = 5) -> DataFrame:
    """Frame sampling for video rows: emits one row per sampled frame
    index (metadata-driven — no decode needed for the index plan)."""
    return (
        df.filter(F.col("meta.n_frames") > 0)
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))
            ).alias("frame_idx"),
        )
    )


AUDIO_WINDOW = 256  # samples per analysis window (non-overlapping)
AUDIO_CAP = 1024  # decode cap, matching _decode_bytes' image cap


def audio_rms_windows(df: DataFrame) -> DataFrame:
    """Audio analysis plumbing: interpret each payload's first
    AUDIO_CAP bytes as unsigned 8-bit PCM (the deterministic fake
    decode — codecs absent), frame into non-overlapping AUDIO_WINDOW
    sample windows, and emit per-window EXACT integer amplitude moments
    plus the RMS (one division + one sqrt on the exact sums, so the
    floats verify bit-for-bit cross-engine).

    The Arrow-batched mapInPandas shape is the real contract: payloads
    stay partition-local, each batch decodes vectorized, and the output
    is window-cardinality (bytes/AUDIO_WINDOW rows), never the payload.
    """
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("window_idx", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("amp_sum", T.LongType()),
            T.StructField("amp_sumsq", T.LongType()),
            T.StructField("rms", T.DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload or b"")[:AUDIO_CAP]
                if not raw:
                    continue
                x = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                for wi in range(0, len(x), AUDIO_WINDOW):
                    w = x[wi : wi + AUDIO_WINDOW]
                    s, ss, n = int(w.sum()), int((w * w).sum()), len(w)
                    out.append(
                        (
                            int(mid),
                            wi // AUDIO_WINDOW,
                            n,
                            s,
                            ss,
                            float(np.sqrt(ss / n)),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "window_idx",
                    "n_samples",
                    "amp_sum",
                    "amp_sumsq",
                    "rms",
                ],
            )

    return df.select("media_id", "payload").mapInPandas(run, schema)
