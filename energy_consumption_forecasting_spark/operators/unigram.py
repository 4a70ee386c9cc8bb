"""Unigram-LM subword tokenizer (SentencePiece's second algorithm —
Kudo 2018, "Subword Regularization", §3) learned and applied over
DataFrames.

The BPE pair (operators/bpe.py) covers the merge-based tokenizer
family; this module covers the probabilistic one: a piece vocabulary
with unigram log-probabilities, segmentation by Viterbi (the
max-probability split), fitted by hard EM:

* **Candidates** — every substring (len <= max_len) of every distinct
  word, weighted by word frequency, top-V by weighted count — ONE
  explode + groupBy at corpus scale, plus all single characters so any
  word stays segmentable (the closed-vocabulary guarantee).
* **E-step** — Viterbi-segment each DISTINCT word under current piece
  log-probs (vocabulary-sized work, Arrow-batched; the piece table is
  a KB-scale broadcast dict — same scale shape as bpe_encode_words).
* **M-step** — piece probabilities re-estimated from the weighted
  Viterbi counts (hard EM: the Viterbi path carries the full count,
  the standard SentencePiece training approximation at its default
  `--hard_em`-like operating point).

Determinism: DP ties break by (fewer pieces, lexicographically
smallest piece sequence); Python float arithmetic is IEEE-fixed, so
the learned vocabulary and every segmentation are reproducible across
runs and partitionings — pinned by tests/test_unigram.py.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def candidate_pieces(
    words: DataFrame,
    max_len: int = 4,
    top_v: int = 160,
) -> DataFrame:
    """(piece, weighted_count) candidate table: all substrings of
    length <= max_len of each distinct word ``w``, weighted by the word's
    corpus count, truncated to the top-V by (count DESC, piece ASC) —
    single characters are always retained regardless of rank."""
    subs = words.select(
        F.explode(
            # NB: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty
            # — words shorter than l must hit the CASE arm, not a
            # greatest()-clamped sequence.
            F.expr(
                f"""flatten(transform(sequence(1, {max_len}), l ->
                      CASE WHEN length(w) >= l THEN
                        transform(sequence(1, length(w) - l + 1),
                                  i -> substring(w, i, l))
                      ELSE CAST(array() AS ARRAY<STRING>) END))"""
            )
        ).alias("piece"),
        F.col("cnt").alias("cnt"),
    )
    counts = subs.groupBy("piece").agg(
        F.sum("cnt").cast("long").alias("weighted_count")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("weighted_count"), F.asc("piece"))
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    return ranked.filter(
        (F.col("rnk") <= top_v) | (F.length("piece") == 1)
    ).select("piece", "weighted_count")


def viterbi_segment(
    word: str, logp: dict[str, float], max_len: int
) -> list[str]:
    """Max-log-prob segmentation; ties -> fewer pieces, then the
    lexicographically smallest piece tuple."""
    n = len(word)
    # best[i] = (neg total logp, n_pieces, pieces tuple) for word[:i]
    best: list[tuple | None] = [None] * (n + 1)
    best[0] = (0.0, 0, ())
    for i in range(1, n + 1):
        cand = None
        for l in range(1, min(max_len, i) + 1):
            piece = word[i - l : i]
            lp = logp.get(piece)
            prev = best[i - l]
            if lp is None or prev is None:
                continue
            key = (prev[0] - lp, prev[1] + 1, prev[2] + (piece,))
            if cand is None or key < cand:
                cand = key
        best[i] = cand
    assert best[n] is not None, f"unsegmentable word {word!r}"
    return list(best[n][2])


def _norm_logp(counts: dict[str, int]) -> dict[str, float]:
    total = sum(counts.values())
    return {p: math.log(c) - math.log(total) for p, c in counts.items() if c > 0}


def learn_unigram(
    words: DataFrame,
    rounds: int = 3,
    max_len: int = 4,
    top_v: int = 160,
) -> dict[str, float]:
    """Fit piece log-probs by hard EM over the distinct-word (w, cnt)
    table.

    Each E-step is one Arrow-batched pass over the (bounded) vocabulary
    with the current KB-scale piece dict broadcast in the closure; each
    M-step is a driver-side normalization of the piece-count dict
    (piece-vocabulary-bounded — the sanctioned bounded-collect shape).
    """
    cand = candidate_pieces(words, max_len=max_len, top_v=top_v).collect()
    counts = {r["piece"]: int(r["weighted_count"]) for r in cand}
    logp = _norm_logp(counts)
    spark = words.sparkSession
    for _ in range(rounds):
        lp = dict(logp)  # closure copy for this round

        def estep(batches):
            for pdf in batches:
                rows = []
                for w_, c_ in zip(pdf["w"], pdf["cnt"]):
                    for piece in viterbi_segment(str(w_), lp, max_len):
                        rows.append((piece, int(c_)))
                yield pd.DataFrame(rows, columns=["piece", "cnt"])

        new_counts = (
            words.select("w", "cnt")
            .mapInPandas(estep, schema="piece string, cnt long")
            .groupBy("piece")
            .agg(F.sum("cnt").alias("c"))
            .collect()
        )
        counts = {r["piece"]: int(r["c"]) for r in new_counts}
        # single-char floor keeps every word segmentable after pruning
        for ch in {p for p in logp if len(p) == 1}:
            counts.setdefault(ch, 1)
        logp = _norm_logp(counts)
    return logp


def unigram_encode_words(
    words: DataFrame,
    logp: dict[str, float],
    max_len: int = 4,
) -> DataFrame:
    """Segment each distinct word -> (w, pieces array, n_pieces)."""

    def seg(batches):
        for pdf in batches:
            out = [
                viterbi_segment(str(w_), logp, max_len)
                for w_ in pdf["w"]
            ]
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "pieces": out,
                    "n_pieces": [len(p) for p in out],
                }
            )

    return words.select("w").mapInPandas(
        seg, schema="w string, pieces array<string>, n_pieces int"
    )
