"""Distributed BPE merge learning (Sennrich, Haddow & Birch, ACL 2016).

The working set is the DISTINCT-word table with corpus counts as
weights, so each round is vocabulary-sized work regardless of corpus
size: one weighted pair-count groupBy (map-side combinable), a
driver-side argmax over the tiny pair table, and a row-local symbol
rewrite.  The only driver state is the chosen merge pair per round —
a few bytes — never token data.

The merge rewrite is the reference left-to-right, non-overlapping
fold: ``[a, b, c]`` with merge (a,b) -> ``[ab, c]``; ``[a, a, a]``
with merge (a,a) -> ``[aa, a]``.  Implemented with ``F.aggregate``
over the symbol array (interpreted HOF, but per-element work is one
string compare — and the array is word-length-bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _merge_pair(symbols, left: str, right: str):
    """Column expr: fold ``symbols`` merging adjacent (left, right)
    left-to-right without overlap."""
    merged = F.lit(left + right)

    def step(acc, s):
        # acc.done = output so far; acc.armed = previous symbol was an
        # unconsumed `left` (merge fires if s == right)
        fire = acc["armed"] & (s == F.lit(right))
        flushed = F.when(
            acc["armed"] & ~fire, F.concat(acc["done"], F.array(F.lit(left)))
        ).otherwise(acc["done"])
        return F.struct(
            F.when(fire, F.concat(flushed, F.array(merged)))
            .otherwise(
                F.when(s == F.lit(left), flushed).otherwise(
                    F.concat(flushed, F.array(s))
                )
            )
            .alias("done"),
            (~fire & (s == F.lit(left))).alias("armed"),
        )

    init = F.struct(
        F.array().cast("array<string>").alias("done"), F.lit(False).alias("armed")
    )
    return F.aggregate(
        symbols,
        init,
        step,
        lambda acc: F.when(
            acc["armed"], F.concat(acc["done"], F.array(F.lit(left)))
        ).otherwise(acc["done"]),
    )


_LOCAL_VOCAB_MAX = 50_000  # driver-tier cap: words fit comfortably in RAM


def learn_bpe(words: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (w, cnt) word-count table.

    Returns [(left, right, weighted_pair_count), ...] in merge order.

    Tiered like every production tokenizer trainer: BPE learning
    consumes the AGGREGATED word-count table, which for real corpora
    is vocabulary-sized — when it fits the driver
    (``_LOCAL_VOCAB_MAX`` words) the merge loop runs locally in one
    collect instead of ``n_merges`` cluster round-trips (identical
    argmax tie-break and left-to-right non-overlap rewrite, pinned by
    a tier-equality test); the distributed loop below is the
    unbounded-vocabulary path."""
    from ..session import loop_shuffle_width

    spark = words.sparkSession
    state = words.select(
        F.split(F.col("w"), "").alias("syms"), F.col("cnt").alias("cnt")
    )
    # The merge loop runs n_merges tiny shuffle jobs over the
    # VOCABULARY-sized state — size the loop's shuffle width to the
    # vocabulary (one count job), not the session default.
    # ONE probe job decides the tier AND supplies the local rows:
    # take(cap+1) short-circuits; only the (rare) distributed path
    # pays the full count for its loop-width sizing.
    probe = state.take(_LOCAL_VOCAB_MAX + 1)
    if len(probe) <= _LOCAL_VOCAB_MAX:
        rows = [
            # match the distributed semantics on NULLs: a NULL word
            # fails size(syms) >= 2 there (size(NULL) = -1), a NULL
            # count is ignored by F.sum — locally: skip / weight 0
            (list(r["syms"]), int(r["cnt"]) if r["cnt"] is not None else 0)
            for r in probe
            if r["syms"] is not None
        ]
        return _learn_bpe_local(rows, n_merges)
    n_words = state.count()
    with loop_shuffle_width(spark, n_words, 100_000):
        return _learn_bpe_loop(state, n_merges)


def _apply_merge_local(syms: list[str], a: str, b: str) -> list[str]:
    """Left-to-right non-overlapping merge — the reference semantics,
    identical to the ``_merge_pair`` fold."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _learn_bpe_local(
    rows: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[str, str, int]]:
    """Driver-tier merge loop over collected (symbols, count) rows.

    Python string comparison orders by code point and Spark's UTF8
    binary order preserves code-point order, so the (count desc, a, b)
    argmax tie-break matches the distributed loop exactly."""
    merges: list[tuple[str, str, int]] = []
    state = rows
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in state:
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                counts[pair] = counts.get(pair, 0) + cnt
        if not counts:
            break
        (a, b), n = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, int(n)))
        state = [
            (_apply_merge_local(syms, a, b), cnt)
            for syms, cnt in state
            if len(syms) >= 2
        ]
    return merges


def _learn_bpe_loop(state: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pairs = state.filter(F.size("syms") >= 2).select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("a"),
                        F.element_at("syms", i + 1).alias("b"),
                    ),
                )
            ).alias("p"),
            "cnt",
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((a, b, n))
        state = state.filter(F.size("syms") >= 2).select(
            _merge_pair(F.col("syms"), a, b).alias("syms"), "cnt"
        )
        state = state.localCheckpoint(eager=False)
    return merges


def bpe_encode_words(words: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Encode each distinct word ``w`` with a learned merge list → token
    array.

    The standard apply loop (Sennrich §2 / every production tokenizer):
    split to characters, then repeatedly merge the adjacent pair with
    the LOWEST merge rank until none applies.  Ranks ride a broadcast
    dict (KB-sized — the vocabulary artifact); the UDF is Arrow-batched
    and the input is the DISTINCT-word table, so encode work is
    vocabulary-sized regardless of corpus size — documents join the
    encoded vocabulary afterwards (see queries/lm.py::pipeline_bpe_encode).
    """
    import pandas as pd
    from pyspark.sql import types as T

    spark = words.sparkSession
    ranks = {(a, b): i for i, (a, b, *_) in enumerate(merges)}
    br = spark.sparkContext.broadcast(ranks)

    def encode(batches):
        rk = br.value
        for pdf in batches:
            out = []
            for w in pdf["w"]:
                syms = list(w)
                while len(syms) >= 2:
                    best, best_i = None, -1
                    for i in range(len(syms) - 1):
                        r = rk.get((syms[i], syms[i + 1]))
                        if r is not None and (best is None or r < best):
                            best, best_i = r, i
                    if best is None:
                        break
                    syms[best_i : best_i + 2] = [
                        syms[best_i] + syms[best_i + 1]
                    ]
                out.append(syms)
            yield pd.DataFrame({"w": pdf["w"], "tokens": out})

    schema = T.StructType(
        [
            T.StructField("w", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.StringType())),
        ]
    )
    return words.select("w").mapInPandas(encode, schema=schema)
