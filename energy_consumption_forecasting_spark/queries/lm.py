"""Corpus-language-model familiarity scoring (training-data pipeline).

A perplexity-style quality filter without a neural LM: train a bigram
model ON the corpus itself (distributed count tables), then score every
document by how "familiar" its bigrams are to the corpus.  This is the
classic KenLM-filter shape from public LLM-data pipelines (CCNet /
RefinedWeb style), re-expressed so the whole thing is three hash
aggregations and two equi-joins — no model artifact, no UDF.

Determinism contract: per-document aggregation of *floating* log-probs
is order-dependent across engines, so the score is defined on exact
integer aggregates instead — Σ c(w1,w2) and Σ c(w1) over the document's
bigram occurrences — with ONE double division at the end.  Same quality
ordering as mean conditional probability, bit-stable everywhere.

Scale shape (100 TB): the unigram/bigram count tables are produced by
map-side-combinable hash aggs over row-local expansions; the scoring
joins are hash joins keyed on the n-gram string.  Hot n-grams ("of the")
are one build row each — probe-side skew only, which AQE skew-split
handles.  Nothing is collected or broadcast by assumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import query
from ._util import shared_plan, tbl
from .text import _toks

_TOKS_SQL = """
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS a
      FROM documents
"""


def _doc_bigram_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, w1, bigram) — one row per bigram OCCURRENCE, row-local
    expansion from the token array."""
    toks = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select("doc_id", _toks(F.lower(F.col("text"))).alias("a"))
        .filter(F.size("a") >= 2)
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("a") - 1),
        lambda i: F.struct(
            F.element_at("a", i).alias("w1"),
            F.concat_ws(
                " ", F.element_at("a", i), F.element_at("a", i + 1)
            ).alias("bigram"),
        ),
    )
    return toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.bigram").alias("bigram")
    )


# Shared bigram-LM scoring fragment: per-(doc, bigram-occurrence) rows
# with the corpus bigram count c2 and first-word count c1 — used
# VERBATIM by text_lm_familiarity and pipeline_lm_buckets so the two
# can never drift (review catch: the block had been copy-pasted).
_LM_SCORED_SQL = f"""toks AS ({_TOKS_SQL}),
    occ AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(a)), i -> a[i])) AS w1,
             unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bigram
      FROM toks WHERE len(a) >= 2
    ),
    ucnt AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(a) AS w FROM toks) GROUP BY 1
    ),
    bcnt AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c2
      FROM occ GROUP BY 1
    ),
    scored AS (
      SELECT occ.doc_id, bcnt.c2, ucnt.c1
      FROM occ JOIN bcnt USING (bigram) JOIN ucnt ON occ.w1 = ucnt.w
    )"""


def _doc_lm_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark half of ``_LM_SCORED_SQL``: (doc_id, c2, c1) per bigram
    occurrence."""
    occ = _doc_bigram_occurrences(spark, sf_dir)
    uni = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select(F.explode(_toks(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    bg = occ.groupBy("bigram").agg(F.count("*").alias("c2"))
    return occ.join(bg, "bigram").join(uni, occ.w1 == uni.w)


@query(
    "text_lm_familiarity",
    oracle=f"""
    WITH {_LM_SCORED_SQL}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(c2) AS DOUBLE) / CAST(SUM(c1) AS DOUBLE) AS familiarity,
           CAST(SUM(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS novel_frac
    FROM scored GROUP BY 1
    """,
)
def text_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score = Σ corpus-count(bigram) / Σ corpus-count(first word): the
    exact-integer analog of mean conditional bigram probability.
    ``novel_frac`` is the share of a document's bigrams that occur
    nowhere else in the corpus — high novel_frac + low familiarity is
    the low-quality / gibberish band a corpus filter drops."""
    scored = _doc_lm_scored(spark, sf_dir)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        (
            F.sum("c2").cast("double") / F.sum("c1").cast("double")
        ).alias("familiarity"),
        (
            F.sum(F.when(F.col("c2") == 1, 1).otherwise(0)).cast("double")
            / F.count("*").cast("double")
        ).alias("novel_frac"),
    )


# --- BPE vocabulary induction ------------------------------------------------------
BPE_TOP_PAIRS = 20
BPE_MERGES = 5


@query(
    "text_bpe_pairs",
    oracle=f"""
    WITH words AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    alpha AS (SELECT w FROM words WHERE regexp_matches(w, '^[a-z]+$')
                                    AND len(w) >= 2),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2)))
               AS pair
      FROM alpha
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT {BPE_TOP_PAIRS}
    """,
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-0 BPE statistics: adjacent-symbol (character bigram) counts
    over the alphabetic token stream — the candidate table the first
    byte-pair-encoding merge picks from.  Row-local expansion (one
    scan, no text shuffled — 2-char pairs only), map-side-combinable
    count, orderBy+limit top-{BPE_TOP_PAIRS}."""
    words = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select(
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
            ).alias("w")
        )
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOP_PAIRS)
    )


@query("pipeline_bpe_merges")
def pipeline_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{BPE_MERGES} rounds of byte-pair-encoding merge learning (Sennrich
    et al. 2016), the vocabulary-induction loop of every modern
    tokenizer, over the aggregated DISTINCT-word table:

    * corpus state = (symbols array, word count) per DISTINCT word —
      aggregation shrinks the working set to vocabulary size (the
      standard BPE trick: corpus frequency rides as a weight); when
      that table fits the driver the merge loop runs locally in one
      collect (operators/bpe.py tier rule, equality-tested), else:
    * each round: one groupBy for weighted pair counts, a
      deterministic driver argmax (count desc, pair asc — a few bytes
      collected), then a row-local HOF fold rewrites each word's
      symbol array merging the chosen pair (left-to-right,
      non-overlapping — the reference semantics);
    * localCheckpoint per round truncates the growing lineage (same
      discipline as connected components).

    Rows-only gate (the loop is deterministic but 5 rounds of
    recursive-CTE SQL is not a reasonable oracle); the merge table +
    a hand-computed pytest pin the semantics."""
    from ..operators.bpe import learn_bpe

    words = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select(
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
            ).alias("w")
        )
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    merges = learn_bpe(words, n_merges=BPE_MERGES)
    return spark.createDataFrame(
        [(i, a, b, int(n)) for i, (a, b, n) in enumerate(merges)],
        "round int, left string, right string, pair_count long",
    )


@query("pipeline_bpe_encode")
def pipeline_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with LEARNED BPE merges — the apply half of
    the tokenizer story (pipeline_bpe_merges learns the vocabulary;
    this encodes with it, the corpus-prep step every LLM train run
    performs at full scale).

    Scale shape: the iterative merge loop runs once per DISTINCT word
    (vocabulary-sized Arrow-batched UDF work, merge ranks broadcast as
    a KB dict — operators/bpe.py::bpe_encode_words); documents then
    join the encoded vocabulary on the word hash, so corpus-sized work
    is one explode + one equi-join + one count-agg, all JVM-side.
    Output: per-document token statistics.  Rows-only gate (iterative
    merge application has no reasonable SQL oracle); the encode
    semantics are pinned by a hand-computed pytest
    (tests/test_pipeline_ops.py)."""
    from ..operators.bpe import bpe_encode_words, learn_bpe

    doc_words = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
            ).alias("w"),
        )
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    vocab = doc_words.groupBy("w").agg(F.count("*").alias("cnt"))
    merges = learn_bpe(vocab, n_merges=BPE_MERGES)
    encoded = bpe_encode_words(vocab, merges)
    return (
        doc_words.join(F.broadcast(encoded), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.size("tokens")).alias("n_tokens"),
        )
        .withColumn(
            "tokens_per_word",
            F.round(F.col("n_tokens") / F.col("n_words"), 9),
        )
    )


@query(
    "pipeline_bpe_roundtrip",
    oracle="""
    WITH words AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    alpha AS (SELECT w FROM words WHERE regexp_matches(w, '^[a-z]+$')
                                    AND len(w) >= 2)
    SELECT (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) FROM alpha) AS n_vocab,
           (SELECT CAST(SUM(len(w)) AS BIGINT)
            FROM (SELECT DISTINCT w FROM alpha) t) AS vocab_chars,
           TRUE AS roundtrip_ok,
           TRUE AS token_chars_conserved_ok
    """,
)
def pipeline_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the BPE tokenizer (rows-only pipeline_bpe_merges /
    pipeline_bpe_encode): BPE merges only ever CONCATENATE adjacent
    symbols, so for every vocabulary word the encoded token sequence
    must concatenate back to the word exactly, and total token
    characters must equal total word characters.  Both booleans are
    computed distributedly over the encoded vocabulary (one row-local
    comparison per word, then two count-aggregates); the SQL truth
    pins the vocabulary size and character mass the encoder ran on —
    a merge-table or encode-fold regression flips a boolean."""
    from ..operators.bpe import bpe_encode_words, learn_bpe

    doc_words = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select(
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
            ).alias("w"),
        )
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    vocab = doc_words.groupBy("w").agg(F.count("*").alias("cnt"))
    merges = learn_bpe(vocab, n_merges=BPE_MERGES)
    encoded = bpe_encode_words(vocab, merges)
    stats = encoded.agg(
        F.count("*").alias("n_vocab"),
        F.sum(F.length("w")).alias("vocab_chars"),
        F.min(F.concat_ws("", F.col("tokens")) == F.col("w")).alias(
            "roundtrip_ok"
        ),
        (
            F.sum(
                F.aggregate(
                    F.transform("tokens", lambda t: F.length(t).cast("long")),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x,
                )
            )
            == F.sum(F.length("w"))
        ).alias("token_chars_conserved_ok"),
    )
    return stats.select(
        "n_vocab", "vocab_chars", "roundtrip_ok", "token_chars_conserved_ok"
    )


# --- unigram-LM tokenizer (SentencePiece family) ---------------------------------------
UNIGRAM_MAX_LEN = 4
UNIGRAM_TOP_V = 160
UNIGRAM_ROUNDS = 3


def _vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct alphabetic words with corpus counts (the BPE word rule)."""
    return (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select(
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
            ).alias("w")
        )
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "pipeline_unigram_candidates",
    oracle=f"""
    WITH words AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM words WHERE regexp_matches(w, '^[a-z]+$') AND len(w) >= 2
      GROUP BY w
    ),
    subs AS (
      SELECT unnest(flatten(list_transform(range(1, {UNIGRAM_MAX_LEN} + 1),
               l -> list_transform(range(1, greatest(len(w) - l + 1, 0) + 1),
                                   i -> substr(w, i, l))))) AS piece,
             cnt
      FROM vocab
    ),
    counts AS (
      SELECT piece, CAST(SUM(cnt) AS BIGINT) AS weighted_count
      FROM subs GROUP BY piece
    ),
    ranked AS (
      SELECT piece, weighted_count,
             ROW_NUMBER() OVER (ORDER BY weighted_count DESC, piece) AS rnk
      FROM counts
    )
    SELECT piece, weighted_count
    FROM ranked WHERE rnk <= {UNIGRAM_TOP_V} OR len(piece) = 1
    """,
)
def pipeline_unigram_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-0 of the unigram-LM tokenizer (Kudo 2018 — SentencePiece's
    probabilistic algorithm, the alternative family to BPE): the seed
    piece vocabulary — every substring (len <= 4) of
    every distinct word weighted by corpus frequency, top-160
    by weighted count with all single characters retained (the closed-
    vocabulary guarantee that keeps every word segmentable).

    Corpus-scale work is ONE explode + groupBy (substring expansion is
    row-local on the DISTINCT-word table, so a 100 TB corpus costs its
    vocabulary, not its token count); the rank window rides the
    bounded piece-count aggregate."""
    from ..operators.unigram import candidate_pieces

    return candidate_pieces(
        _vocab(spark, sf_dir),
        max_len=UNIGRAM_MAX_LEN,
        top_v=UNIGRAM_TOP_V,
    )


@query("pipeline_unigram_encode")
def pipeline_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the unigram LM (3 hard-EM rounds over the
    distinct-word vocabulary) and Viterbi-encode the corpus with it —
    the full second-tokenizer-family counterpart of
    pipeline_bpe_encode.  Per-document piece statistics out.

    Scale shape mirrors the BPE apply: E-steps and the final encode
    are vocabulary-sized Arrow-batched passes with a KB piece dict in
    the closure; documents join the encoded vocabulary on the word —
    corpus-sized work is one explode + one equi-join + one count-agg.
    Rows-only gate (Viterbi under float log-probs has no reasonable
    SQL oracle); segmentation semantics are pinned by
    tests/test_unigram.py (hand-computed Viterbi, EM-likelihood
    monotonicity, concatenation-identity property)."""
    from ..operators.unigram import learn_unigram, unigram_encode_words

    vocab = shared_plan(_vocab(spark, sf_dir), width=4)  # vocab-sized
    logp = learn_unigram(
        vocab,
        rounds=UNIGRAM_ROUNDS,
        max_len=UNIGRAM_MAX_LEN,
        top_v=UNIGRAM_TOP_V,
    )
    encoded = unigram_encode_words(
        vocab, logp, max_len=UNIGRAM_MAX_LEN
    ).withColumnRenamed("w", "ew")
    doc_words = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
            ).alias("w"),
        )
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
    )
    return (
        doc_words.join(encoded, F.col("w") == F.col("ew"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
            F.expr(
                "CAST((1000000 * SUM(CAST(n_pieces AS BIGINT)))"
                " div COUNT(*) AS BIGINT)"
            ).alias("fertility_ppm"),
        )
    )


# --- CCNet-style LM-score bucketing --------------------------------------------
#
# CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality
# Monolingual Datasets from Web Crawl Data", sec. 3.3) buckets a crawl
# into head / middle / tail by language-model perplexity percentile
# and keeps the head+middle for pretraining.  Here the per-doc score
# is the EXACT-INTEGER corpus-bigram familiarity (high familiarity ==
# low perplexity), in ppm, and the 30/70 cuts are EXACT integer order
# statistics over the bounded score histogram (scores live in
# [0, 1e6], so the histogram is a bounded aggregate and its cumulative
# window is the repo's sanctioned bounded-window shape) — a float
# percentile as a BRANCH PREDICATE would be the one place a 1-ulp
# interpolation difference flips whole bucket counts (review catch).
# t30 = the (floor(0.3 n) + 1)-th smallest score, likewise t70; tail =
# score < t30, head = score >= t70 — value cuts, so tied scores land
# in one bucket deterministically.
@query(
    "pipeline_lm_buckets",
    oracle=f"""
    WITH {_LM_SCORED_SQL},
    doc_scores AS (
      SELECT doc_id, (1000000 * SUM(c2)) // SUM(c1) AS score_ppm
      FROM scored GROUP BY doc_id
    ),
    hist AS (
      SELECT score_ppm, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM doc_scores GROUP BY score_ppm
    ),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_scored FROM hist),
    cum AS (
      SELECT score_ppm,
             SUM(cnt) OVER (ORDER BY score_ppm
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS c
      FROM hist
    ),
    cuts AS (
      SELECT (SELECT MIN(score_ppm) FROM cum, n
              WHERE c >= (3 * n_scored) // 10 + 1) AS t30,
             (SELECT MIN(score_ppm) FROM cum, n
              WHERE c >= (7 * n_scored) // 10 + 1) AS t70
    ),
    tagged AS (
      SELECT CASE WHEN score_ppm >= t70 THEN 'head'
                  WHEN score_ppm < t30 THEN 'tail'
                  ELSE 'middle' END AS bucket,
             score_ppm
      FROM doc_scores, cuts
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(score_ppm) AS BIGINT) AS min_score_ppm,
           CAST(MAX(score_ppm) AS BIGINT) AS max_score_ppm
    FROM tagged GROUP BY bucket
    """,
)
def pipeline_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/middle/tail corpus split by exact-integer LM familiarity
    (CCNet's perplexity-bucket rule with the engine's bigram LM as the
    scorer; cuts are exact order statistics — see the block comment).
    Docs with < 2 alphabetic tokens carry no bigrams and are out of
    scope, as in text_lm_familiarity.

    Scale: the scoring is the lm-familiarity plan (corpus count tables
    + two hash joins + one doc-keyed agg); the cut points come from
    the ppm-bounded score HISTOGRAM (<= 1e6+1 rows at any corpus
    size), one cumulative window over that bounded aggregate, and a
    two-value scalar row broadcast back; the bucket tag is a row-local
    CASE — no corpus-wide sort or rank."""
    scored = _doc_lm_scored(spark, sf_dir)
    # NOTE (r10, measured and left alone): doc_scores has TWO consumers
    # (histogram + final tagging), so the LM scoring subtree executes
    # twice.  A shared_plan checkpoint here was A/B'd at sf1 and was
    # SLOWER (5.1-7.7 s vs 3.4-4.9 s): the lazy checkpoint compiles the
    # scoring subtree non-adaptively (fixed-width exchanges, no AQE
    # coalescing/skew handling on the bigram joins), which costs more
    # than the duplicated — fully adaptive — computation.  Keep the
    # recompute.
    doc_scores = scored.groupBy("doc_id").agg(
        F.expr("(1000000 * SUM(c2)) div SUM(c1)").alias("score_ppm")
    )
    hist = doc_scores.groupBy("score_ppm").agg(F.count("*").alias("cnt"))
    # n_scored comes from the <=1e6+1-row HISTOGRAM, not a third
    # corpus-wide pass over doc_scores (review catch: the plan carried
    # an extra consumer of the expensive LM-scoring subtree)
    n = hist.agg(F.sum("cnt").alias("n_scored"))
    cum = hist.select(
        "score_ppm",
        F.sum("cnt")
        .over(
            Window.orderBy("score_ppm").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("c"),
    ).crossJoin(F.broadcast(n))
    cuts = (
        cum.agg(
            F.min(
                F.when(
                    F.col("c") >= F.expr("(3 * n_scored) div 10 + 1"),
                    F.col("score_ppm"),
                )
            ).alias("t30"),
            F.min(
                F.when(
                    F.col("c") >= F.expr("(7 * n_scored) div 10 + 1"),
                    F.col("score_ppm"),
                )
            ).alias("t70"),
        )
    )
    tagged = doc_scores.crossJoin(F.broadcast(cuts)).select(
        F.when(F.col("score_ppm") >= F.col("t70"), F.lit("head"))
        .when(F.col("score_ppm") < F.col("t30"), F.lit("tail"))
        .otherwise(F.lit("middle"))
        .alias("bucket"),
        "score_ppm",
    )
    return tagged.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.min("score_ppm").alias("min_score_ppm"),
        F.max("score_ppm").alias("max_score_ppm"),
    )
