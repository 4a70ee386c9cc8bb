"""Vector math over ArrayType columns — pure Catalyst expressions.

Dot products and norms are sequential left-folds (``F.aggregate``) over
the array index order: deterministic accumulation, bit-identical to a
scalar loop on any engine, and fully JVM-side (no Python UDF in the
similarity hot path).  On float inputs, widen to double BEFORE
multiplying so the products don't round at float precision.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column | str) -> Column:
    c = F.col(v) if isinstance(v, str) else v
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product: sum_i a[i]*b[i] in index order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm2(a: Column) -> Column:
    """Squared L2 norm (sequential fold)."""
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; inputs must already be double arrays.

    For pairwise queries prefer ``with_norm`` + ``cosine_prenormed`` —
    recomputing both norms per PAIR folds each vector O(n) times."""
    return dot(a, b) / (F.sqrt(norm2(a)) * F.sqrt(norm2(b)))


def with_norm(df):
    """Attach the L2 norm of ``v`` as ``nrm`` (computed once per vector)."""
    return df.withColumn("nrm", F.sqrt(norm2(F.col("v"))))


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """dot(a,b) / (‖a‖·‖b‖) with precomputed norms — bit-identical to
    ``cosine`` (the norm value is the same double either way)."""
    return dot(a, b) / (na * nb)


def rung_sig_norm_arrow(df, planes):
    """Arrow-batch sign-signature + L2-norm kernel, BIT-IDENTICAL to
    the per-plane ``dot`` fold + ``norm2`` fold (r10, guide §4.2).

    The interpreted slice/transform fold
    (``transform(slice(planes, 1, nbits), p -> dot(v, p))``) evaluates
    ``nbits × dim`` lambda closures per row — measured ~10 s of the
    13 s cold ``_cos_sig_frame`` build at sf1 (50k vectors × 28 planes
    × 64 dims).  This kernel loops over DIMENSIONS (the fold axis)
    while NumPy vectorizes across rows × planes:

        acc[r, j] = (…((0 + v[r,0]·P[j,0]) + v[r,1]·P[j,1]) + …)

    — per element the identical IEEE mul-then-add sequence as the
    scalar left-fold (no FMA, no reassociation across the fold axis),
    so every dot is bit-equal; the sign test (``>= 0``) and the
    correctly-rounded ``sqrt`` then agree everywhere.  (NaN dots would
    diverge — Spark orders NaN above zero, NumPy comparisons return
    False — but a NaN dot means NaN inputs, which the strict oracle
    already forbids upstream.)

    ``df`` must carry ``v`` (fixed-dim double arrays) and ``__nbits``
    (the corpus-rung plane count, constant across rows); it gains
    ``nrm`` and ``sig``, and all other columns pass through untouched
    as Arrow buffers.  ``planes`` is the full plane table (list of
    list[float]); each batch slices the first ``nbits`` rows."""
    import numpy as np
    import pyarrow as pa

    P_full = np.asarray(planes, dtype=np.float64)

    sch_in = df.schema
    keep = [f for f in sch_in.fields if f.name != "__nbits"]
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keep
    ) + ", nrm double, sig string"

    def _run(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ix = {name: j for j, name in enumerate(b.schema.names)}
            v = b.column(ix["v"]).flatten().to_numpy(zero_copy_only=False)
            d = v.size // n
            v = v.reshape(n, d)
            nbits = b.column(ix["__nbits"])[0].as_py()
            P = P_full[:nbits]
            acc = np.zeros((n, nbits), dtype=np.float64)
            nrm = np.zeros(n, dtype=np.float64)
            for i in range(d):
                col = v[:, i]
                acc = acc + col[:, None] * P[:, i][None, :]
                nrm = nrm + col * col
            nrm = np.sqrt(nrm)
            bits = np.where(acc >= 0.0, np.uint8(ord("1")),
                            np.uint8(ord("0")))
            raw = bits.tobytes()
            sigs = pa.array(
                [raw[r * nbits:(r + 1) * nbits].decode("ascii")
                 for r in range(n)],
                type=pa.string(),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(ix[f.name]) for f in keep]
                + [pa.array(nrm, type=pa.float64()), sigs],
                names=[f.name for f in keep] + ["nrm", "sig"],
            )

    return df.mapInArrow(_run, ddl)


def plane_dots_arrow(df, planes, divisor=None):
    """Arrow-batch plane-dot projection: attach ``parr`` =
    [dot(v, p_0), dot(v, p_1), …] (each optionally divided by the
    exact ``divisor``), BIT-IDENTICAL to the per-plane ``dot``
    left-fold (r10, guide §4.2 — same per-dimension accumulation
    contract as :func:`rung_sig_norm_arrow`; see its docstring for the
    IEEE argument).  All other columns pass through as Arrow buffers.

    Construction is one py4j call — the F.array-of-folds form built
    ``len(planes) × dim`` literal Column objects per call site
    (measured ~1 s of pure plan construction for the 16×64 JL matrix)
    and evaluated interpreted lambda closures per element at runtime."""
    import numpy as np
    import pyarrow as pa

    P = np.asarray(planes, dtype=np.float64)

    keep = list(df.schema.fields)
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in keep
    ) + ", parr array<double>"

    def _run(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ix = {name: j for j, name in enumerate(b.schema.names)}
            v = b.column(ix["v"]).flatten().to_numpy(zero_copy_only=False)
            d = v.size // n
            v = v.reshape(n, d)
            acc = np.zeros((n, P.shape[0]), dtype=np.float64)
            for i in range(d):
                acc = acc + v[:, i][:, None] * P[:, i][None, :]
            if divisor is not None:
                acc = acc / divisor
            parr = pa.FixedSizeListArray.from_arrays(
                pa.array(acc.ravel(), type=pa.float64()), P.shape[0]
            ).cast(pa.list_(pa.float64()))
            yield pa.RecordBatch.from_arrays(
                [b.column(ix[f.name]) for f in keep] + [parr],
                names=[f.name for f in keep] + ["parr"],
            )

    return df.mapInArrow(_run, ddl)


def bucket_pair_scores_arrow(df, n_bands, out_a="vec_a", out_b="vec_b"):
    """Bucket-LOCAL candidate generation + first-collision dedup +
    exact cosine, in one Arrow pass (r10, guide §8).

    The join-then-attach shape (pair ids → distinct → two broadcast
    joins pulling ``v`` onto every pair → Arrow scorer) materializes
    each vector once PER CANDIDATE PAIR: at sf1 that is 12.7M pairs ×
    two 64-double arrays ≈ 13 GB of UnsafeRows built JVM-side and
    re-serialized across the Python boundary — measured ~106 s of
    executor CPU warm, the entire wall of dedup_embedding_cosine /
    sim_knn_graph.  Every decision, though, is bucket-local: a
    candidate pair exists only INSIDE a (band, bucket) group of ≤
    COS_BUCKET_CAP members.  So ship each bucket's MEMBER rows across
    the boundary once (corpus × n_bands rows ≈ 108 MB at sf1, 120×
    less) and form the pairs where the vectors already are.

    Per bucket of k sorted members: upper-triangle index pairs (the
    ``vec_id <`` orientation, ids are sorted within the bucket),
    first-collision dedup against the earlier bands (``sig`` slice
    equality ∧ both ``smask`` bits — each qualifying pair is emitted
    exactly once, from its lowest co-surviving colliding band), then
    the dot as a per-DIMENSION accumulation over gathered columns:

        acc = (…((0 + V[ia,0]·V[ib,0]) + V[ia,1]·V[ib,1]) + …)

    — the bit-identical IEEE sequence of the ``dot`` left-fold (no
    FMA, no reassociation across the fold axis), divided by the
    precomputed norms exactly as ``cosine_prenormed``.  ALL pairs are emitted (ids + cos only);
    thresholds stay JVM-side so Spark's NaN ordering semantics are
    preserved by construction.

    ``df`` must be hash-partitioned by (band, bucket) and sorted
    within partitions by (band, bucket, vec_id) — every bucket whole
    and contiguous; the kernel carries a bucket across Arrow batch
    boundaries.  Required columns: vec_id, band, bucket, sig, smask,
    v, nrm."""
    import numpy as np
    import pyarrow as pa

    ddl = f"{out_a} long, {out_b} long, cos_sim double"

    def _run(batches):
        # carry-over buffer for the bucket straddling batch boundaries
        carry = None  # dict of numpy arrays + key

        def emit(seg):
            k = seg["vec_id"].size
            if k < 2:
                return None
            band = int(seg["band"])
            sig0 = seg["sig"]
            nbits = sig0.shape[1]
            w = nbits // n_bands
            ia, ib = np.triu_indices(k, 1)
            if band > 0:
                keep = np.ones(ia.size, dtype=bool)
                smask = seg["smask"]
                for b2 in range(band):
                    alive = (
                        ((smask[ia] >> b2) & 1).astype(bool)
                        & ((smask[ib] >> b2) & 1).astype(bool)
                    )
                    eq = (
                        sig0[ia, b2 * w:(b2 + 1) * w]
                        == sig0[ib, b2 * w:(b2 + 1) * w]
                    ).all(axis=1)
                    keep &= ~(alive & eq)
                ia, ib = ia[keep], ib[keep]
                if ia.size == 0:
                    return None
            V = seg["v"]
            acc = np.zeros(ia.size, dtype=np.float64)
            for d in range(V.shape[1]):
                acc = acc + V[ia, d] * V[ib, d]
            nrm = seg["nrm"]
            cos = acc / (nrm[ia] * nrm[ib])
            vid = seg["vec_id"]
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(vid[ia], type=pa.int64()),
                    pa.array(vid[ib], type=pa.int64()),
                    pa.array(cos, type=pa.float64()),
                ],
                names=[out_a, out_b, "cos_sim"],
            )

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ix = {name: j for j, name in enumerate(b.schema.names)}
            band = b.column(ix["band"]).to_numpy(zero_copy_only=False)
            bucket = b.column(ix["bucket"]).to_numpy(zero_copy_only=False)
            vid = b.column(ix["vec_id"]).to_numpy(zero_copy_only=False)
            smask = b.column(ix["smask"]).to_numpy(zero_copy_only=False)
            sigs = b.column(ix["sig"]).to_pylist()
            nbits = len(sigs[0])
            S = np.frombuffer(
                "".join(sigs).encode("ascii"), dtype=np.uint8
            ).reshape(n, nbits)
            v = b.column(ix["v"]).flatten().to_numpy(zero_copy_only=False)
            V = v.reshape(n, v.size // n)
            nrm = b.column(ix["nrm"]).to_numpy(zero_copy_only=False)
            # bucket boundaries within this batch
            cut = np.flatnonzero(
                (band[1:] != band[:-1]) | (bucket[1:] != bucket[:-1])
            ) + 1
            starts = np.concatenate(([0], cut))
            ends = np.concatenate((cut, [n]))
            for si, (s, e) in enumerate(zip(starts, ends)):
                seg = {
                    "band": band[s],
                    "key": (band[s], bucket[s]),
                    "vec_id": vid[s:e],
                    "smask": smask[s:e],
                    "sig": S[s:e],
                    "v": V[s:e],
                    "nrm": nrm[s:e],
                }
                if si == 0 and carry is not None:
                    if carry["key"] == seg["key"]:
                        seg = {
                            "band": carry["band"],
                            "key": carry["key"],
                            **{
                                c: np.concatenate([carry[c], seg[c]])
                                for c in ("vec_id", "smask", "sig", "v", "nrm")
                            },
                        }
                    else:
                        r = emit(carry)
                        if r is not None:
                            yield r
                    carry = None
                if e == n:
                    carry = seg  # may continue in the next batch
                else:
                    r = emit(seg)
                    if r is not None:
                        yield r
        if carry is not None:
            r = emit(carry)
            if r is not None:
                yield r

    cols = ["vec_id", "band", "bucket", "sig", "smask", "v", "nrm"]
    return df.select(*cols).mapInArrow(_run, ddl)
