"""Text-analysis operators for training-data pipelines (SURVEY §7 phase 5).

Language-ID (marker-word heuristic), quality scoring, token counting
(whitespace + regex tokenizer), and document fingerprinting.  All pure
column expressions — per-document, shuffle-free, linear in corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ._util import shared_plan, tbl

_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "for"]

_LANG_MARKERS = {
    "en": ["the", "a", "and", "of"],
    "de": ["der", "die", "das", "und"],
    "es": ["el", "la", "los", "y"],
    "fr": ["le", "la", "les", "et"],
}


def _toks(c: str = "text") -> Column:
    return F.filter(F.split(c, r"\s+"), lambda x: x != "")


# --- token counting ------------------------------------------------------------
@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT) AS n_re_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letters runs /
    digit runs / single punctuation), per document."""
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(_toks()).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)).cast("long").alias(
            "n_re_tokens"
        ),
        F.length("text").cast("long").alias("n_chars"),
    )


# --- quality scoring -------------------------------------------------------------
@query(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS a
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             len(a) AS n_tokens,
             CAST(len(list_filter(a, x -> list_contains({STOPWORDS!r}, x))) AS BIGINT)
               AS n_stop,
             -- NB: list_aggregate, NOT list_reduce — DuckDB 1.0's
             -- list_reduce mis-evaluates on full-table vectorized runs.
             CAST(list_aggregate(list_transform(a, x -> length(x)), 'sum')
                  AS BIGINT) AS total_len
      FROM t
    )
    SELECT doc_id, n_tokens,
           n_stop / n_tokens AS stopword_ratio,
           total_len / n_tokens AS mean_token_len,
           (n_stop / n_tokens) * 0.5 + (total_len / n_tokens) * 0.1 AS quality_score
    FROM m
    WHERE n_tokens > 0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / stopword-ratio / mean-token-length quality features and a
    weighted score — the standard cheap quality gate before expensive
    pipeline stages."""
    t = tbl(spark, sf_dir, "documents").select("doc_id", _toks().alias("a"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    m = t.select(
        "doc_id",
        F.size("a").alias("n_tokens"),
        F.size(F.filter("a", lambda x: F.array_contains(stop_arr, x)))
        .cast("long")
        .alias("n_stop"),
        F.aggregate(
            F.transform("a", lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
        )
        .cast("long")
        .alias("total_len"),
    ).filter(F.col("n_tokens") > 0)
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    mean_len = F.col("total_len") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "n_tokens",
        stop_ratio.alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
        (stop_ratio * 0.5 + mean_len * 0.1).alias("quality_score"),
    )


# --- language identification -------------------------------------------------------
# Shared oracle fragments — text_langid AND text_langid_confusion build
# from these, so the heuristic can never drift between the operator and
# the gate that measures it.
def _langid_ctes(carry: str = "") -> str:
    """toks+hits CTE chain; ``carry`` adds pass-through columns."""
    c = f", {carry}" if carry else ""
    return f"""t AS (
      SELECT doc_id{c},
             list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS a
      FROM documents
    ),
    hits AS (
      SELECT doc_id{c},
             len(list_filter(a, x -> list_contains({_LANG_MARKERS['en']!r}, x))) AS en,
             len(list_filter(a, x -> list_contains({_LANG_MARKERS['de']!r}, x))) AS de,
             len(list_filter(a, x -> list_contains({_LANG_MARKERS['es']!r}, x))) AS es,
             len(list_filter(a, x -> list_contains({_LANG_MARKERS['fr']!r}, x))) AS fr
      FROM t
    )"""


_LANGID_CASE = """CASE WHEN en = 0 AND de = 0 AND es = 0 AND fr = 0 THEN 'unknown'
                WHEN de > en AND de >= es AND de >= fr THEN 'de'
                WHEN es > en AND es >= fr THEN 'es'
                WHEN fr > en THEN 'fr'
                ELSE 'en' END"""


@query(
    "text_langid",
    oracle=f"""
    WITH {_langid_ctes()}
    SELECT doc_id,
           {_LANGID_CASE} AS lang_pred
    FROM hits
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language heuristic (n-gram/stopword family).  The
    deterministic tie-break order is part of the operator contract."""
    t = tbl(spark, sf_dir, "documents").select(
        "doc_id", _toks(F.lower(F.col("text"))).alias("a")
    )

    def hits(lang: str) -> Column:
        arr = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(F.filter("a", lambda x: F.array_contains(arr, x)))

    h = t.select(
        "doc_id",
        hits("en").alias("en"),
        hits("de").alias("de"),
        hits("es").alias("es"),
        hits("fr").alias("fr"),
    )
    return h.select("doc_id", _lang_pred_case())


# --- document fingerprinting ----------------------------------------------------------
@query(
    "text_fingerprint",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             lower(regexp_replace(text, '\\s+', ' ', 'g')) AS nt
      FROM documents
    )
    SELECT doc_id,
           md5(nt) AS fingerprint,
           CASE WHEN length(nt) >= 8 THEN
             -- list_aggregate, NOT list_reduce (DuckDB 1.0 vectorization bug)
             md5(list_aggregate(
               list_transform(range(1, length(nt) - 6, 4), i -> substr(nt, i, 8)),
               'min'))
           END AS min_gram_fp
    FROM norm
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document fingerprint (md5 of whitespace-normalized text) plus
    a winnowing-style fingerprint: md5 of the lexicographic minimum over
    stride-4-sampled character 8-grams.  Selecting the min RAW gram and
    hashing once (instead of hashing every gram) keeps the per-document
    cost at one digest — at 100 TB that is the difference between ~1 and
    ~400 md5 calls per document."""
    norm = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.regexp_replace("text", r"\s+", " ")).alias("nt"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.length("nt") - 7, F.lit(4)),
        lambda i: F.substring(F.col("nt"), i, F.lit(8)),
    )
    return norm.select(
        "doc_id",
        F.md5("nt").alias("fingerprint"),
        F.when(F.length("nt") >= 8, F.md5(F.array_min(grams))).alias("min_gram_fp"),
    )


# --- n-gram frequency table --------------------------------------------------------------
@query(
    "text_bigram_freq",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS a
      FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bigram
      FROM toks WHERE len(a) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY 1 HAVING COUNT(*) >= 10
    """,
)
def text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency (n ≥ 10): map-side-combinable hash agg
    over a row-local expansion."""
    toks = tbl(spark, sf_dir, "documents").select(_toks().alias("a")).filter(
        F.size("a") >= 2
    )
    bg = F.transform(
        F.sequence(F.lit(1), F.size("a") - 1),
        lambda i: F.concat_ws(" ", F.element_at("a", i), F.element_at("a", i + 1)),
    )
    return (
        toks.select(F.explode(bg).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 10)
    )


# --- edit-distance near-dup (bounded to same-source blocks) -------------------------
@query(
    "text_edit_distance",
    oracle="""
    WITH t AS (SELECT doc_id, source, substr(text, 1, 40) AS head FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 20
    """,
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup on 40-char prefixes, blocked by source so
    the pair space is per-block quadratic, not corpus-quadratic (the
    blocking key stands in for any cheap candidate filter)."""
    t = tbl(spark, sf_dir, "documents").select(
        "doc_id", "source", F.substring("text", 1, 40).alias("head")
    )
    a = t.alias("a")
    b = t.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 20)
    )


# --- corpus-frequency rarity scoring -------------------------------------------
@query(
    "text_rarity_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    df AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d
           FROM t GROUP BY w)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN d < 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           CAST(SUM(CASE WHEN d < 100 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS rare_ratio
    FROM t JOIN df USING (w)
    GROUP BY doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rarity: fraction of a document's tokens whose
    document frequency is under 100 — the cheap unigram stand-in for
    LM-perplexity quality filtering (rare-token-heavy docs are the
    noisy tail a pretraining pipeline down-weights).  The document-
    frequency table is vocabulary-sized -> broadcast; the scoring pass
    is one explode + broadcast probe + per-doc re-agg, and only token
    strings (bounded length) ever cross a shuffle."""
    docs = tbl(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(_toks()).alias("w"))
    df_tbl = t.groupBy("w").agg(F.countDistinct("doc_id").alias("d"))
    rare = F.when(F.col("d") < 100, 1).otherwise(0)
    return (
        t.join(F.broadcast(df_tbl), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(rare).alias("n_rare"),
            (F.sum(rare).cast("double") / F.count("*")).alias("rare_ratio"),
        )
    )


# --- TF-IDF top term per document ----------------------------------------------
@query(
    "text_tfidf_topterm",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM t GROUP BY doc_id, w),
    df AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d
           FROM t GROUP BY w),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, w,
             tf * (CAST(n_docs AS DOUBLE) / d) AS score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf * (CAST(n_docs AS DOUBLE) / d) DESC,
                                         w) AS rk
      FROM tf JOIN df USING (w) CROSS JOIN n
    )
    SELECT doc_id, w AS top_term, score FROM scored WHERE rk = 1
    """,
)
def text_tfidf_topterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document most-characteristic term by tf-idf with a RATIONAL
    idf (N/df instead of ln(N/df)): log is monotone, so the argmax is
    the classic tf-idf argmax, while every score stays a product of
    exact integer ratios — bit-identical across engines, where ln()
    last-ulp disagreement would break the gate.  Window is partitioned
    by doc_id (never global); the df and N sides are broadcast."""
    from pyspark.sql import Window

    docs = tbl(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(_toks()).alias("w"))
    tf = t.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df_tbl = t.groupBy("w").agg(F.countDistinct("doc_id").alias("d"))
    n = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * (F.col("n_docs").cast("double") / F.col("d"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("w"))
    return (
        tf.join(F.broadcast(df_tbl), "w")
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("w").alias("top_term"), "score")
    )


# --- repetition quality signals (Gopher-style) --------------------------------------
@query(
    "text_repetition_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS a
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS g
      FROM toks WHERE len(a) >= 2
    ),
    tg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(a) - 1),
                    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g
      FROM toks WHERE len(a) >= 3
    ),
    bstat AS (
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total_bg, CAST(MAX(n) AS BIGINT) AS top_bg
      FROM (SELECT doc_id, g, COUNT(*) AS n FROM bg GROUP BY 1, 2) GROUP BY 1
    ),
    tstat AS (
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total_tg,
             CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_tg
      FROM (SELECT doc_id, g, COUNT(*) AS n FROM tg GROUP BY 1, 2) GROUP BY 1
    )
    SELECT b.doc_id AS doc_id,
           b.total_bg AS n_bigrams,
           CAST(b.top_bg AS DOUBLE) / CAST(b.total_bg AS DOUBLE) AS top_bigram_frac,
           t.total_tg AS n_trigrams,
           CAST(t.dup_tg AS DOUBLE) / CAST(t.total_tg AS DOUBLE) AS dup_trigram_frac
    FROM bstat b JOIN tstat t ON b.doc_id = t.doc_id
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: share of the document taken by
    its single most frequent bigram, and the fraction of trigram
    occurrences that are within-document duplicates.  High values mark
    boilerplate/keyword-stuffed text a corpus filter drops.

    Exact-integer counts; ONE double division per metric (the
    cross-engine float rule).  Scale (r3 rework): ZERO shuffles — both
    metrics are per-document, so each row sorts its own gram array and
    a run-length fold extracts (total, max-run, duplicated-mass) in one
    JVM-side pass; the r2 shape exploded grams into two corpus-sized
    shuffles plus a join for what is row-local arithmetic."""

    def gram_array(a, n: int):
        return F.array_sort(
            F.transform(
                F.sequence(F.lit(1), F.size(a) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(a, i + k) for k in range(n)]
                ),
            )
        )

    def run_stats(sorted_arr):
        """struct(maxrun, dup): longest equal-run and total mass of
        runs ≥ 2 over a SORTED array — the frequency stats without a
        frequency table."""
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("maxrun"),
            F.lit(0).cast("long").alias("dup"),
        )

        def step(acc, s):
            cont = acc["prev"].isNotNull() & (s == acc["prev"])
            run = F.when(cont, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            flush_max = F.greatest(acc["maxrun"], acc["run"])
            flush_dup = acc["dup"] + F.when(
                acc["run"] >= 2, acc["run"]
            ).otherwise(F.lit(0).cast("long"))
            return F.struct(
                s.alias("prev"),
                run.alias("run"),
                F.when(cont, acc["maxrun"]).otherwise(flush_max).alias("maxrun"),
                F.when(cont, acc["dup"]).otherwise(flush_dup).alias("dup"),
            )

        return F.aggregate(
            sorted_arr,
            init,
            step,
            lambda acc: F.struct(
                F.greatest(acc["maxrun"], acc["run"]).alias("maxrun"),
                (
                    acc["dup"]
                    + F.when(acc["run"] >= 2, acc["run"]).otherwise(
                        F.lit(0).cast("long")
                    )
                ).alias("dup"),
            ),
        )

    toks = tbl(spark, sf_dir, "documents", spread="doc_id").select(
        "doc_id", _toks(F.lower(F.col("text"))).alias("a")
    )
    staged = (
        toks.filter(F.size("a") >= 3)
        .select(
            "doc_id",
            gram_array(F.col("a"), 2).alias("bg"),
            gram_array(F.col("a"), 3).alias("tg"),
        )
        .select(
            "doc_id",
            F.size("bg").cast("long").alias("total_bg"),
            run_stats(F.col("bg")).alias("bs"),
            F.size("tg").cast("long").alias("total_tg"),
            run_stats(F.col("tg")).alias("ts"),
        )
    )
    return staged.select(
        "doc_id",
        F.col("total_bg").alias("n_bigrams"),
        (F.col("bs.maxrun").cast("double") / F.col("total_bg").cast("double"))
        .alias("top_bigram_frac"),
        F.col("total_tg").alias("n_trigrams"),
        (F.col("ts.dup").cast("double") / F.col("total_tg").cast("double"))
        .alias("dup_trigram_frac"),
    )


# --- BM25 retrieval: exact-rational scoring, fixed-order sum --------------------
_BM25_TERMS = ("spark", "hash", "window", "merge")
_BM25_K = 15

# k1 = 1.2 = 6/5, b = 0.75 = 3/4.  With integer tf, dl, N (docs),
# L (total corpus tokens), df:
#   idf      = (N - df + 1/2)/(df + 1/2)            = (2N-2df+1)/(2df+1)
#   tf_norm  = tf(k1+1)/(tf + k1(1-b) + k1*b*dl*N/L)
#            = 22*tf*L / (10*tf*L + 3*L + 9*dl*N)   (x 10L/10L)
# so each term's contribution is a ratio of two BIGINTs and the only
# floating op is ONE double division per term plus a fixed-arity sum.

_BM25_IN = "', '".join(_BM25_TERMS)
_BM25_TF_COLS = ",\n             ".join(
    "COALESCE(MAX(CASE WHEN w = '" + t + "' THEN tf END), 0) AS tf_" + t
    for t in _BM25_TERMS
)
_BM25_TERM_SQL = " + ".join(
    "(CAST((2*n.n - 2*COALESCE(df_{t}.d, 0) + 1) * 22 * p.tf_{t} * l.l AS DOUBLE)"
    " / CAST((2*COALESCE(df_{t}.d, 0) + 1)"
    " * (10 * p.tf_{t} * l.l + 3 * l.l + 9 * dl.dl * n.n) AS DOUBLE))".format(t=t)
    for t in _BM25_TERMS
)
_BM25_DF_JOINS = " ".join(
    "LEFT JOIN dfs df_{t} ON df_{t}.w = '{t}'".format(t=t) for t in _BM25_TERMS
)

_BM25_ORACLE = f"""
    WITH occ AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    dls AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM occ GROUP BY doc_id),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    l AS (SELECT CAST(COUNT(*) AS BIGINT) AS l FROM occ),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM occ
      WHERE w IN ('{_BM25_IN}') GROUP BY doc_id, w
    ),
    piv AS (
      SELECT doc_id,
             {_BM25_TF_COLS}
      FROM tf GROUP BY doc_id
    ),
    dfs AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM tf GROUP BY w
    ),
    scored AS (
      SELECT p.doc_id,
             {_BM25_TERM_SQL} AS score
      FROM piv p
      JOIN dls dl ON dl.doc_id = p.doc_id
      CROSS JOIN n CROSS JOIN l
      {_BM25_DF_JOINS}
    )
    SELECT doc_id, score FROM scored
    ORDER BY score DESC, doc_id LIMIT {_BM25_K}
    """


@query("text_bm25_topk", oracle=_BM25_ORACLE)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{_BM25_K} documents for the fixed query
    {_BM25_TERMS} with k1=1.2, b=0.75 and a RATIONAL idf
    ((N-df+0.5)/(df+0.5), the log dropped — log is monotone per term;
    with multi-term sums this is the documented log-free BM25 variant,
    chosen so every term contribution is a ratio of two exact BIGINTs).

    Cross-engine exactness: integer-only numerators/denominators, ONE
    double division per term, and the per-document sum written as a
    fixed-arity left-to-right expression — never a double SUM()
    aggregate whose order the engine picks.  Scale shape: tf is a
    filtered groupBy (query terms only — the scan's predicate prunes
    everything else), corpus stats (N, L, df) are scalar broadcasts,
    and the final top-k is orderBy+limit (per-partition heaps, no
    global sort materialization).

    r10 (guide §2.3/§2.4): tf for a FIXED 4-term query is row-local —
    ``size(filter(a, x -> x = term))`` per term — so the old
    explode-every-token → filter → groupBy(doc, w) → pivot machinery
    (a corpus-occurrence exchange plus a second full tokenize pass for
    dl/N/L) collapses to ONE tokenize pass producing a 6-int-per-doc
    frame; corpus stats (N, L, df) are one aggregate over it, and the
    scoring expression is unchanged (bit-identical doubles)."""
    def tf_col(term: str):
        # single-parameter lambda (a two-parameter one would be read as
        # PySpark's (element, index) form), term bound via the factory
        return (
            F.size(F.filter("a", lambda x: x == term))
            .cast("long")
            .alias(f"tf_{term}")
        )

    perdoc = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .select("doc_id", _toks().alias("a"))
        .select(
            "doc_id",
            F.size("a").cast("long").alias("dl"),
            *[tf_col(t) for t in _BM25_TERMS],
        )
        .transform(shared_plan)
    )
    stats = perdoc.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("l"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(t)
            for t in _BM25_TERMS
        ],
    )
    # membership matches the old tf-pivot inner join: only documents
    # containing at least one query term are scored (identical top-k
    # since absent docs would score 0).
    has_term = None
    for t in _BM25_TERMS:
        cond = F.col(f"tf_{t}") > 0
        has_term = cond if has_term is None else (has_term | cond)
    scored = perdoc.filter(has_term).crossJoin(F.broadcast(stats))

    def term_score(t: str):
        d = F.coalesce(F.col(t), F.lit(0))
        tf_c = F.col(f"tf_{t}")
        num = ((2 * F.col("n") - 2 * d + 1) * 22 * tf_c * F.col("l")).cast("double")
        den = (
            (2 * d + 1)
            * (10 * tf_c * F.col("l") + 3 * F.col("l") + 9 * F.col("dl") * F.col("n"))
        ).cast("double")
        return num / den

    score = term_score(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        score = score + term_score(t)
    return (
        scored.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(_BM25_K)
    )


# --- langid quality: confusion matrix vs the lang ground-truth column ----------------
@query(
    "text_langid_confusion",
    oracle=f"""
    WITH {_langid_ctes(carry="lang")}
    SELECT lang AS true_lang,
           {_LANGID_CASE} AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM hits GROUP BY 1, 2
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the language-ID heuristic against the corpus's own
    ``lang`` ground truth: the full confusion matrix (true, predicted,
    count) as a registered hash-checked gate — the evaluation sibling
    of dedup_lsh_quality / sim_ann_recall.  Notably honest about the
    heuristic's blind spot: zh has no marker list, so its row shows
    where unmarked languages land.  Exact counts, |langs|² output."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = text_langid(spark, sf_dir)
    return (
        docs.join(pred, "doc_id")
        .groupBy(
            F.col("lang").alias("true_lang"),
            F.col("lang_pred").alias("pred_lang"),
        )
        .agg(F.count("*").alias("n"))
    )


# --- synthetic-text watermark detection (greenlist z-score) -------------------------
@query(
    "text_watermark_detect",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS a
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CAST(len(a) - 1 AS BIGINT) AS n_scored,
             CAST(list_aggregate(
               list_transform(range(2, len(a) + 1), i ->
                 CASE WHEN substring(md5(a[i - 1] || '|' || a[i]), 1, 1)
                           IN ('0','1','2','3','4','5','6','7')
                      THEN 1 ELSE 0 END),
               'sum') AS BIGINT) AS n_green
      FROM t WHERE len(a) >= 2
    )
    SELECT doc_id, n_scored, n_green,
           (CAST(n_green AS DOUBLE) - 0.5 * CAST(n_scored AS DOUBLE))
             / sqrt(0.25 * CAST(n_scored AS DOUBLE)) AS z,
           (CAST(n_green AS DOUBLE) - 0.5 * CAST(n_scored AS DOUBLE))
             / sqrt(0.25 * CAST(n_scored AS DOUBLE)) >= 4.0 AS watermarked
    FROM g
    """,
)
def text_watermark_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-watermark detection (Kirchenbauer et al. 2023): a greenlist
    watermark seeds each position's "green" token subset from the
    PREVIOUS token; detection counts green continuations and tests
    g ~ Binomial(n, gamma) with z = (g - gamma*n) / sqrt(n*gamma*(1-gamma)).
    Here gamma = 1/2 and the greenlist membership oracle is one md5 of
    the (prev, cur) bigram (top hex digit 0-7) — the same deterministic
    hash role the secret key plays in the published scheme.

    Determinism: counts are exact integers; z is a fixed IEEE op
    sequence (sqrt is correctly rounded on both engines; gamma dyadic).
    Plan: one row-local HOF pass over the token array — zero shuffles,
    linear in corpus size, the watermark-screening shape a training
    pipeline runs over every crawled document."""
    t = tbl(spark, sf_dir, "documents").select("doc_id", _toks().alias("a"))
    n = F.size("a")
    green = F.aggregate(
        F.zip_with(
            F.slice("a", 1, n - 1),
            F.slice("a", 2, n - 1),
            lambda p, c: F.when(
                F.substring(F.md5(F.concat(p, F.lit("|"), c)), 1, 1).isin(
                    "0", "1", "2", "3", "4", "5", "6", "7"
                ),
                1,
            ).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    g = (
        t.filter(n >= 2)
        .select(
            "doc_id",
            (n - 1).cast("long").alias("n_scored"),
            green.cast("long").alias("n_green"),
        )
    )
    z = (
        F.col("n_green").cast("double") - 0.5 * F.col("n_scored").cast("double")
    ) / F.sqrt(0.25 * F.col("n_scored").cast("double"))
    return g.select(
        "doc_id", "n_scored", "n_green", z.alias("z"), (z >= 4.0).alias("watermarked")
    )


# --- signed feature hashing (the hashing trick) ---------------------------------------
@query(
    "text_hashing_features",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                    x -> x <> '')) AS w
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             substr(md5('fh:' || w), 1, 2) AS bucket,
             CASE WHEN strpos('01234567', substr(md5('sg:' || w), 1, 1)) > 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tok
    )
    SELECT doc_id, bucket,
           CAST(SUM(sgn) AS BIGINT) AS feat,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM hashed GROUP BY doc_id, bucket
    """,
)
def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (the hashing trick, Weinberger et al.
    ICML 2009): each token maps to one of 256 buckets by md5 prefix
    and contributes ±1 by an independent sign hash, so collisions
    cancel in expectation — the standard fixed-width featurization for
    linear models over unbounded vocabularies (fastText/CCNet-style
    pipelines hash exactly like this at corpus scale).

    Bucket keys stay hex STRINGS (the CMS convention — engine-portable,
    no int conversion) and the sign comes from the first hex char's
    half-range, identical character arithmetic on both engines.  Plan:
    explode -> ONE map-side-combinable groupBy on (doc, bucket); output
    is the sparse feature matrix, at most 256 rows per document
    regardless of document length."""
    docs = tbl(spark, sf_dir, "documents", spread="doc_id").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    bucket = F.substring(F.md5(F.concat(F.lit("fh:"), F.col("w"))), 1, 2)
    sgn = F.when(
        F.substring(F.md5(F.concat(F.lit("sg:"), F.col("w"))), 1, 1) < "8",
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", bucket.alias("bucket"), sgn.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("sgn").cast("long").alias("feat"),
            F.count("*").alias("n_tokens"),
        )
    )


# --- quality-filter funnel attribution ------------------------------------------------
@query(
    "pipeline_quality_funnel",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS a
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(a) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(a, x -> list_contains({STOPWORDS!r}, x)))
                  AS BIGINT) AS n_stop,
             CAST(list_aggregate(list_transform(a, x -> length(x)), 'sum')
                  AS BIGINT) AS total_len,
             CAST(len(list_distinct(a)) AS BIGINT) AS n_distinct
      FROM t
    ),
    flags AS (
      SELECT (n_tokens >= 20) AS r1,
             (3 * n_tokens <= total_len AND total_len <= 10 * n_tokens) AS r2,
             (20 * n_stop >= n_tokens) AS r3,
             (10 * n_distinct >= 3 * n_tokens) AS r4
      FROM m
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM((NOT r1)::INT) AS BIGINT) AS f1,
             CAST(SUM((NOT r2)::INT) AS BIGINT) AS f2,
             CAST(SUM((NOT r3)::INT) AS BIGINT) AS f3,
             CAST(SUM((NOT r4)::INT) AS BIGINT) AS f4,
             CAST(SUM((r1 AND NOT r2)::INT) AS BIGINT) AS s2,
             CAST(SUM((r1 AND r2 AND NOT r3)::INT) AS BIGINT) AS s3,
             CAST(SUM((r1 AND r2 AND r3 AND NOT r4)::INT) AS BIGINT) AS s4,
             CAST(SUM((r1)::INT) AS BIGINT) AS a1,
             CAST(SUM((r1 AND r2)::INT) AS BIGINT) AS a2,
             CAST(SUM((r1 AND r2 AND r3)::INT) AS BIGINT) AS a3,
             CAST(SUM((r1 AND r2 AND r3 AND r4)::INT) AS BIGINT) AS a4
      FROM flags
    )
    SELECT u.stage, u.rule, u.fail_alone, u.fail_at_stage, u.survivors_after
    FROM agg, LATERAL (
      VALUES (1, 'min_length',     f1, f1, a1),
             (2, 'word_length',    f2, s2, a2),
             (3, 'stopword_ratio', f3, s3, a3),
             (4, 'type_token',     f4, s4, a4)
    ) AS u(stage, rule, fail_alone, fail_at_stage, survivors_after)
    """,
)
def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-funnel attribution for a Gopher/C4-style quality gate:
    four cheap rules (min length >= 20 tokens, mean word length in
    [3,10], stopword ratio >= 5%, type-token ratio >= 0.3) evaluated
    in their pipeline order, reporting per rule (a) how many documents
    it kills in isolation, (b) how many it kills AT its stage (i.e.
    among survivors of earlier rules), and (c) cumulative survivors —
    the report every corpus-cleaning run ships so rule costs are
    attributable before anything is actually dropped.

    Every rule is an integer cross-product (no float thresholds), all
    metrics are row-local array folds (zero shuffles before the single
    scalar aggregation), and the 4-row funnel is unpivoted from ONE
    aggregate — corpus-size-independent output."""
    t = tbl(spark, sf_dir, "documents").select("doc_id", _toks().alias("a"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    m = t.select(
        F.size("a").cast("long").alias("n_tokens"),
        F.size(F.filter("a", lambda x: F.array_contains(stop_arr, x)))
        .cast("long")
        .alias("n_stop"),
        F.aggregate(
            F.transform("a", lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        .cast("long")
        .alias("total_len"),
        F.size(F.array_distinct("a")).cast("long").alias("n_distinct"),
    )
    flags = m.select(
        (F.col("n_tokens") >= 20).alias("r1"),
        (
            (3 * F.col("n_tokens") <= F.col("total_len"))
            & (F.col("total_len") <= 10 * F.col("n_tokens"))
        ).alias("r2"),
        (20 * F.col("n_stop") >= F.col("n_tokens")).alias("r3"),
        (10 * F.col("n_distinct") >= 3 * F.col("n_tokens")).alias("r4"),
    )

    def cnt(cond):
        return F.sum(cond.cast("int")).cast("long")

    r1, r2, r3, r4 = (F.col(c) for c in ("r1", "r2", "r3", "r4"))
    agg = flags.agg(
        cnt(~r1).alias("f1"),
        cnt(~r2).alias("f2"),
        cnt(~r3).alias("f3"),
        cnt(~r4).alias("f4"),
        cnt(r1 & ~r2).alias("s2"),
        cnt(r1 & r2 & ~r3).alias("s3"),
        cnt(r1 & r2 & r3 & ~r4).alias("s4"),
        cnt(r1).alias("a1"),
        cnt(r1 & r2).alias("a2"),
        cnt(r1 & r2 & r3).alias("a3"),
        cnt(r1 & r2 & r3 & r4).alias("a4"),
    )
    return agg.selectExpr(
        """stack(4,
             1, 'min_length',     f1, f1, a1,
             2, 'word_length',    f2, s2, a2,
             3, 'stopword_ratio', f3, s3, a3,
             4, 'type_token',     f4, s4, a4)
           AS (stage, rule, fail_alone, fail_at_stage, survivors_after)"""
    )


# --- word burstiness (dispersion index) -------------------------------------------------
@query(
    "text_burstiness",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                    x -> x <> '')) AS w
      FROM documents
    ),
    per AS (
      SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY w, doc_id
    ),
    n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM documents),
    stats AS (
      SELECT w,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(CAST(c AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ssq
      FROM per GROUP BY w
    )
    SELECT w, df, CAST(s AS BIGINT) AS total_occurrences,
           CAST((1000000 * (n.n * ssq - s * s)) // (n.n * s) AS BIGINT)
             AS dispersion_ppm
    FROM stats, n
    """,
)
def text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness: the variance-to-mean dispersion index of each
    word's per-document count across the WHOLE corpus (zeros included
    — the moments fold them in algebraically: var/mean =
    (N·Σc² − S²)/(N·S)).  Church & Gale's observation that content
    words are bursty (D ≫ 1) while function words are Poisson-ish
    (D ≈ 1) is a standard corpus-quality / keyword signal a topical-
    contamination screen reads.

    Exact truncating ppm over HUGEINT/DECIMAL(38) moments; plan is two
    map-side-combinable aggregations — the (word, doc) collapse then
    the word rollup — with the corpus size folded in as a broadcast
    scalar, never a zero-filled dense matrix."""
    tok = tbl(spark, sf_dir, "documents", spread="doc_id").select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    per = tok.groupBy("w", "doc_id").agg(F.count("*").alias("c"))
    n = tbl(spark, sf_dir, "documents").agg(
        F.count("*").cast("decimal(38,0)").alias("n")
    )
    d38 = "decimal(38,0)"
    stats = per.groupBy("w").agg(
        F.count("*").alias("df"),
        F.sum(F.col("c").cast(d38)).cast(d38).alias("s"),
        F.sum(F.col("c").cast(d38) * F.col("c").cast(d38))
        .cast(d38)
        .alias("ssq"),
    )
    return stats.crossJoin(F.broadcast(n)).select(
        "w",
        "df",
        F.col("s").cast("long").alias("total_occurrences"),
        F.expr(
            "CAST((1000000 * (n * ssq - s * s)) div (n * s) AS BIGINT)"
        ).alias("dispersion_ppm"),
    )


# --- Heaps' law vocabulary-growth curve ---------------------------------------------------
@query(
    "text_heaps_law",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                    x -> x <> '')) AS w
      FROM documents
    ),
    first_doc AS (
      SELECT w, CAST(MIN(doc_id) AS BIGINT) AS d0 FROM tok GROUP BY w
    ),
    perdoc AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM((f.d0 = t.doc_id)::INT) AS BIGINT) AS new_words
      FROM tok t JOIN first_doc f ON f.w = t.w
      GROUP BY t.doc_id
    )
    SELECT doc_id,
           CAST(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens,
           CAST(SUM(new_words) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_vocab
    FROM perdoc
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct words vs
    cumulative tokens in doc_id order — the sub-linearity check
    (V ≈ K·N^β, β<1) a tokenizer-budget plan reads before fixing a
    vocabulary size, and an early detector of synthetic/templated text
    (whose curve flattens abnormally fast).

    The cumulative-distinct is made distributable by the
    first-occurrence trick: a word contributes to the doc where its
    MIN(doc_id) lands, so "distinct so far" = prefix sum of per-doc
    new-word counts — and both prefixes run through the ZERO-ACTION
    distributed prefix sum (operators/ranking, r8: doc_id is a dense
    monotone key, so ``doc_id div 8192`` is an evenly-loaded monotone
    bucket — per-bucket window ≤8192 rows at any corpus size, offsets
    a bucket-count-sized subtree, and the construction launches no
    job), NOT a single-partition global window: the per-doc frame is
    corpus-cardinality, exactly the case the two-pass rank exists for.

    r10 (guide §2.3/§2.4): the old shape shuffled EVERY token
    occurrence by word into a ``tok ⋈ first_doc`` join just to test
    ``d0 = doc_id`` per occurrence.  The join is gone: per-(doc, word)
    counts collapse the occurrence stream once
    (map-side-combinable), ``min_by(k, doc_id)`` carries "occurrences
    of w inside its first doc" through the vocabulary aggregate, and
    new_words(doc) is a vocabulary-sized re-group by that first doc —
    identical integers, no corpus-sized join exchange.  The two
    chained prefix sums fuse into ONE pass
    (``global_prefix_sum_lazy`` with two values)."""
    from ..operators.ranking import global_prefix_sum_lazy

    docs = tbl(spark, sf_dir, "documents", spread="doc_id").select(
        "doc_id", "text"
    )
    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    # (doc, word) occurrence counts feed ONLY the first-doc vocabulary
    # pass (per-doc token totals are a row-local size() — no reason to
    # route them through the exchange, and no reason to checkpoint the
    # near-occurrence-sized pair frame).
    dwc = tok.groupBy("doc_id", "w").agg(F.count("*").alias("k"))
    first_doc = dwc.groupBy("w").agg(
        F.min("doc_id").alias("d0"),
        # k of the (unique) row with the smallest doc_id = how many
        # times w occurs in its first document — exactly the mass the
        # old per-occurrence d0 = doc_id indicator summed.
        F.min_by("k", "doc_id").alias("k0"),
    )
    new_words = (
        first_doc.groupBy(F.col("d0").alias("doc_id"))
        .agg(F.sum("k0").cast("long").alias("new_words"))
    )
    ntok = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        .cast("long")
        .alias("n_tokens"),
    ).filter(F.col("n_tokens") >= 1)  # explode-drops empty docs, as before
    perdoc = (
        ntok.join(new_words, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("new_words", F.lit(0)).cast("long").alias("new_words"),
        )
        .transform(shared_plan)
    )
    bkt = F.expr("doc_id div 8192")
    with_both = global_prefix_sum_lazy(
        perdoc,
        ["doc_id"],
        ["n_tokens", "new_words"],
        bucket=bkt,
        cum_cols=["cum_tokens", "cum_vocab"],
    )
    return with_both.select(
        "doc_id",
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
    )


# --- Gopher quality-rule panel ---------------------------------------------------
#
# Rae et al. 2021 ("Scaling Language Models: ... Gopher", Appendix A1.1)
# publish the standard rule PANEL a pretraining corpus filter applies
# per document.  text_quality_score / text_repetition_score expose a
# few of these as continuous features; this query is the panel itself:
# one row PER RULE with the corpus-wide violation count, plus the
# overall all-rules-pass row — the accounting a data card reports.
# Every rule is an integer cross-multiplication (no ratios formed), so
# the oracle hash-matches exactly.  The two LINE-shape rules (bullet
# starts, ellipsis ends) are inapplicable to the single-line synthetic
# corpus and are intentionally not implemented.
_GOPHER_MIN_WORDS = 5      # paper: 50 — scaled to the toy corpus' range
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MEANLEN_LO = 3     # 3 <= mean word length <= 10
_GOPHER_MEANLEN_HI = 10
_GOPHER_ALPHA_NUM = 4      # >= 80% words alphabetic: 5*n_alpha >= 4*n
_GOPHER_ALPHA_DEN = 5
_GOPHER_MIN_STOP = 2       # >= 2 distinct stop words present


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS a
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(a) AS BIGINT) AS n,
             CAST(list_aggregate(list_transform(a, x -> length(x)), 'sum')
                  AS BIGINT) AS total_len,
             CAST(len(list_filter(a, x -> regexp_matches(x, '^[a-z]+$')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_distinct(list_filter(a,
                  x -> list_contains({STOPWORDS!r}, x)))) AS BIGINT)
               AS n_stop_distinct
      FROM t
    ),
    flags AS (
      SELECT doc_id,
             (n < {_GOPHER_MIN_WORDS} OR n > {_GOPHER_MAX_WORDS})
               AS fail_word_count,
             (total_len < {_GOPHER_MEANLEN_LO} * n
              OR total_len > {_GOPHER_MEANLEN_HI} * n) AS fail_mean_len,
             ({_GOPHER_ALPHA_DEN} * n_alpha < {_GOPHER_ALPHA_NUM} * n)
               AS fail_alpha_frac,
             (n_stop_distinct < {_GOPHER_MIN_STOP}) AS fail_stopwords
      FROM m
    ),
    panel AS (
      SELECT 'word_count' AS rule,
             CAST(SUM(CASE WHEN fail_word_count THEN 1 ELSE 0 END) AS BIGINT)
               AS n_failing
      FROM flags
      UNION ALL
      SELECT 'mean_word_length',
             CAST(SUM(CASE WHEN fail_mean_len THEN 1 ELSE 0 END) AS BIGINT)
      FROM flags
      UNION ALL
      SELECT 'alpha_word_fraction',
             CAST(SUM(CASE WHEN fail_alpha_frac THEN 1 ELSE 0 END) AS BIGINT)
      FROM flags
      UNION ALL
      SELECT 'stop_word_presence',
             CAST(SUM(CASE WHEN fail_stopwords THEN 1 ELSE 0 END) AS BIGINT)
      FROM flags
      UNION ALL
      SELECT 'ALL_RULES_PASS',
             CAST(SUM(CASE WHEN NOT (fail_word_count OR fail_mean_len
                            OR fail_alpha_frac OR fail_stopwords)
                      THEN 1 ELSE 0 END) AS BIGINT)
      FROM flags
    )
    SELECT rule, n_failing,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flags) AS n_docs
    FROM panel
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule panel as corpus accounting: per-rule failure
    counts plus the all-rules-pass row.  ONE pass computes the four
    per-doc integer statistics row-locally (HOFs, no explode-shuffle);
    the panel is an unpivot of one aggregate row — at 100 TB this is
    a single scan + one scalar aggregation."""
    t = tbl(spark, sf_dir, "documents").select(
        "doc_id", _toks(F.lower(F.col("text"))).alias("a")
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    m = t.select(
        F.size("a").cast("long").alias("n"),
        F.aggregate(
            F.transform("a", lambda x: F.length(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_len"),
        F.size(F.filter("a", lambda x: x.rlike("^[a-z]+$")))
        .cast("long")
        .alias("n_alpha"),
        F.size(
            F.array_distinct(
                F.filter("a", lambda x: F.array_contains(stop_arr, x))
            )
        )
        .cast("long")
        .alias("n_stop_distinct"),
    )
    fails = m.select(
        (
            (F.col("n") < _GOPHER_MIN_WORDS)
            | (F.col("n") > _GOPHER_MAX_WORDS)
        ).alias("f_wc"),
        (
            (F.col("total_len") < _GOPHER_MEANLEN_LO * F.col("n"))
            | (F.col("total_len") > _GOPHER_MEANLEN_HI * F.col("n"))
        ).alias("f_ml"),
        (
            _GOPHER_ALPHA_DEN * F.col("n_alpha")
            < _GOPHER_ALPHA_NUM * F.col("n")
        ).alias("f_af"),
        (F.col("n_stop_distinct") < _GOPHER_MIN_STOP).alias("f_sw"),
    )
    one = fails.agg(
        F.sum(F.when(F.col("f_wc"), 1).otherwise(0)).alias("word_count"),
        F.sum(F.when(F.col("f_ml"), 1).otherwise(0)).alias("mean_word_length"),
        F.sum(F.when(F.col("f_af"), 1).otherwise(0)).alias(
            "alpha_word_fraction"
        ),
        F.sum(F.when(F.col("f_sw"), 1).otherwise(0)).alias(
            "stop_word_presence"
        ),
        F.sum(
            F.when(
                ~(F.col("f_wc") | F.col("f_ml") | F.col("f_af") | F.col("f_sw")),
                1,
            ).otherwise(0)
        ).alias("ALL_RULES_PASS"),
        F.count("*").alias("n_docs"),
    )
    stack = F.expr(
        "stack(5, 'word_count', word_count,"
        " 'mean_word_length', mean_word_length,"
        " 'alpha_word_fraction', alpha_word_fraction,"
        " 'stop_word_presence', stop_word_presence,"
        " 'ALL_RULES_PASS', ALL_RULES_PASS) AS (rule, n_failing)"
    )
    return one.select(stack, "n_docs").select(
        "rule", F.col("n_failing").cast("long").alias("n_failing"), "n_docs"
    )


# --- tokenizer fertility panel ---------------------------------------------------------
def _lang_pred_case() -> Column:
    """The text_langid decision CASE over en/de/es/fr hit-count
    columns — factored (r9) so fertility buckets share the exact
    tie-break contract."""
    return (
        F.when(
            (F.col("en") == 0)
            & (F.col("de") == 0)
            & (F.col("es") == 0)
            & (F.col("fr") == 0),
            "unknown",
        )
        .when(
            (F.col("de") > F.col("en"))
            & (F.col("de") >= F.col("es"))
            & (F.col("de") >= F.col("fr")),
            "de",
        )
        .when((F.col("es") > F.col("en")) & (F.col("es") >= F.col("fr")), "es")
        .when(F.col("fr") > F.col("en"), "fr")
        .otherwise("en")
        .alias("lang_pred")
    )


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH {_langid_ctes(carry="text")},
    lab AS (
      SELECT {_LANGID_CASE} AS lang_pred,
             len(list_filter(regexp_split_to_array(text, '\\s+'),
                             x -> x <> '')) AS ws,
             len(regexp_extract_all(text, '{_TOKEN_RE}')) AS re_t,
             length(text) AS ch
      FROM hits
    )
    SELECT lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(re_t) AS BIGINT) AS re_tokens,
           CAST(SUM(ch) AS BIGINT) AS chars,
           CASE WHEN SUM(ws) = 0 THEN NULL
                ELSE CAST((1000000 * SUM(re_t)) // SUM(ws) AS BIGINT)
           END AS fertility_ppm,
           CASE WHEN SUM(re_t) = 0 THEN NULL
                ELSE CAST((1000000 * SUM(ch)) // SUM(re_t) AS BIGINT)
           END AS chars_per_token_ppm
    FROM lab
    GROUP BY lang_pred
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility panel per predicted language — THE
    pretraining-cost diagnostic for multilingual corpora (fertility =
    subword tokens per whitespace word; high-fertility languages pay
    more compute per word — Rust et al. 2021 'how good is your
    tokenizer').  Buckets by the text_langid marker heuristic and
    rates the BPE-ish regex tokenizer (text_token_count's _TOKEN_RE)
    against whitespace words and raw chars.

    One scan → one k-bucket aggregate.  Ratios are truncating ppm
    divisions over exact integer sums (decimal(38) intermediate on
    the Spark side, HUGEINT in the oracle), so the panel stays
    hash-exact at every SF."""
    docs = tbl(spark, sf_dir, "documents")
    t = docs.select(
        _toks(F.lower(F.col("text"))).alias("a"),
        F.size(_toks()).cast("long").alias("ws"),
        F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
        .cast("long")
        .alias("re_t"),
        F.length("text").cast("long").alias("ch"),
    )

    def hits(lang: str) -> Column:
        arr = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(F.filter("a", lambda x: F.array_contains(arr, x)))

    lab = t.select(
        hits("en").alias("en"),
        hits("de").alias("de"),
        hits("es").alias("es"),
        hits("fr").alias("fr"),
        "ws",
        "re_t",
        "ch",
    ).select(_lang_pred_case(), "ws", "re_t", "ch")
    d38 = "decimal(38,0)"
    return lab.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("ws").alias("ws_tokens"),
        F.sum("re_t").alias("re_tokens"),
        F.sum("ch").alias("chars"),
        F.when(F.sum("ws") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                f"CAST((CAST(sum(re_t) AS {d38}) * 1000000)"
                f" div CAST(sum(ws) AS {d38}) AS BIGINT)"
            )
        )
        .alias("fertility_ppm"),
        F.when(F.sum("re_t") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                f"CAST((CAST(sum(ch) AS {d38}) * 1000000)"
                f" div CAST(sum(re_t) AS {d38}) AS BIGINT)"
            )
        )
        .alias("chars_per_token_ppm"),
    )


# --- token entropy / lexical diversity (r10) ------------------------------------
@query(
    "text_token_entropy",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\s+'),
                         x -> x <> '') AS a
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(a) AS w FROM toks WHERE len(a) >= 1)
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(ln(CAST(SUM(c) AS DOUBLE))
                 - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                   / CAST(SUM(c) AS DOUBLE), 9) AS entropy,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 9) AS ttr
    FROM cnt GROUP BY 1
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution plus the
    type-token ratio — the standard lexical-diversity quality signals
    (templated/keyword-stuffed text collapses toward 0; natural prose
    sits near the corpus band).  H = ln(n) - (sum c*ln c)/n, so only
    the per-type c*ln c mass is needed, never per-token probabilities.

    Scale shape: ZERO shuffles — each row sorts its own token array
    and one JVM-side run-length fold extracts (types, sum c*ln c) in a
    single pass, the text_repetition_score device; a corpus-sized
    groupBy(doc, word) shuffle would move every token twice for what
    is row-local arithmetic.  Cross-engine floats: the fold adds
    run*ln(run) in sorted-token order while the oracle's hash
    aggregate adds in arbitrary order, and JVM vs libm ln can differ
    at the last ulp, so both sides round to 9 digits (values are O(1);
    the accumulated error is <=1e-13)."""
    toks = tbl(spark, sf_dir, "documents", spread="doc_id").select(
        "doc_id", F.array_sort(_toks(F.lower(F.col("text")))).alias("a")
    )

    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("types"),
        F.lit(0.0).alias("sclc"),
    )

    def flush(run):
        # run * ln(run) for the closed run; ln(1) = 0 so singleton
        # runs add exactly 0.0 (the SQL side never sees c*ln(c)=0
        # terms differently — both are exact zeros).
        return F.when(
            run >= 1, run.cast("double") * F.log(run.cast("double"))
        ).otherwise(F.lit(0.0))

    def step(acc, x):
        cont = acc["prev"].isNotNull() & (x == acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(cont, acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(cont, acc["types"]).otherwise(acc["types"] + 1).alias("types"),
            F.when(cont, acc["sclc"])
            .otherwise(acc["sclc"] + flush(acc["run"]))
            .alias("sclc"),
        )

    stats = F.aggregate(
        F.col("a"),
        init,
        step,
        lambda acc: F.struct(
            acc["types"].alias("types"),
            (acc["sclc"] + flush(acc["run"])).alias("sclc"),
        ),
    )
    n = F.size("a").cast("long")
    return (
        toks.filter(F.size("a") >= 1)
        .select("doc_id", n.alias("n_tokens"), stats.alias("st"))
        .select(
            "doc_id",
            "n_tokens",
            F.col("st.types").alias("n_types"),
            F.round(
                F.log(F.col("n_tokens").cast("double"))
                - F.col("st.sclc") / F.col("n_tokens").cast("double"),
                9,
            ).alias("entropy"),
            F.round(
                F.col("st.types").cast("double")
                / F.col("n_tokens").cast("double"),
                9,
            ).alias("ttr"),
        )
    )


# --- Zipf rank-frequency slope (r10) ----------------------------------------------
ZIPF_TOP = 100


@query(
    "text_zipf_slope",
    oracle=rf"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1),
    top AS (
      SELECT c, r FROM (
        SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM cnt
      ) WHERE r <= {ZIPF_TOP}
    ),
    pts AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM top
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0), 9)
             AS slope,
           ROUND((sy * sxx - sx * sxy) / NULLIF(n * sxx - sx * sx, 0.0), 9)
             AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0), 9)
             AS r2
    FROM m
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS of ln(frequency) on ln(rank) over the top
    100 corpus tokens — natural corpora slope near -1; templated
    or synthetic text flattens (this corpus's uniform vocabulary is
    exactly such a flat case, which is the point of measuring it).
    Companion to text_heaps_law on the vocabulary axis.

    Scale shape: one map-side-combinable count aggregation, then a
    TakeOrderedAndProject (distributed top-k, never a global sort or
    an unpartitioned window over the full vocabulary — the rank window
    runs on the <= 100-row limited frame, which also sits above
    the Aggregate for the calendar-bounded-window CI audit).  Floats:
    closed-form OLS from the five moment sums, round(9) both sides for
    the accumulation-order and libm-ln ulps."""
    from pyspark.sql import Window

    toks = tbl(spark, sf_dir, "documents", spread="doc_id").select(
        F.explode(_toks(F.lower(F.col("text")))).alias("w")
    )
    cnt = toks.groupBy("w").agg(F.count("*").alias("c"))
    top = cnt.orderBy(F.desc("c"), "w").limit(ZIPF_TOP)
    r = F.row_number().over(Window.orderBy(F.desc("c"), "w"))
    pts = top.select(r.alias("r"), "c").select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    m = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    det = n * sxx - sx * sx
    detc = F.when(det != 0.0, det)
    r2den = det * (n * syy - sy * sy)
    return m.select(
        n.cast("long").alias("n_points"),
        F.round((n * sxy - sx * sy) / detc, 9).alias("slope"),
        F.round((sy * sxx - sx * sxy) / detc, 9).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / F.when(r2den != 0.0, r2den),
            9,
        ).alias("r2"),
    )


# --- per-source distribution divergence (r10) ---------------------------------------
@query(
    "text_source_divergence",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    sw AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
      FROM tok GROUP BY 1, 2
    ),
    wt AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
    st AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s,
                  CAST(COUNT(*) AS BIGINT) AS n_types
           FROM sw GROUP BY 1),
    tot AS (SELECT CAST(SUM(c_sw) AS BIGINT) AS n FROM sw),
    terms AS (
      SELECT sw.source,
             (CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
               * ln((CAST(c_sw AS DOUBLE) * CAST(n AS DOUBLE))
                    / (CAST(n_s AS DOUBLE) * CAST(c_w AS DOUBLE))) AS kl_term,
             abs(CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE)
                 - CAST(c_w AS DOUBLE) / CAST(n AS DOUBLE)) AS tv_term,
             CAST(c_w AS DOUBLE) / CAST(n AS DOUBLE) AS pc_term,
             n_s, n_types
      FROM sw JOIN wt USING (w) JOIN st USING (source) CROSS JOIN tot
    )
    SELECT source,
           CAST(MAX(n_s) AS BIGINT) AS n_tokens,
           CAST(MAX(n_types) AS BIGINT) AS n_types,
           ROUND(SUM(kl_term), 9) AS kl_vs_corpus,
           ROUND(0.5 * (SUM(tv_term) + (1.0 - SUM(pc_term))), 9) AS tvd_vs_corpus
    FROM terms GROUP BY 1
    """,
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution shift vs the whole corpus: KL(p_source
    || p_corpus) and total-variation distance over the unigram token
    distributions — the mixture/domain-shift diagnostic a pretraining
    recipe reads before weighting sources (the DSIR/temperature-mixture
    input signal).  TVD folds in the mass of corpus tokens ABSENT from
    the source as (1 - sum p_c over present tokens) — no zero-count
    join rows needed, and KL's support is exactly the present tokens.

    Scale shape: one (source, token) hash aggregation off the token
    explode; the token totals and source totals REUSE that aggregate
    (groupBy over sw, never a second corpus scan), and the corpus
    total attaches as a 1-row crossJoin (in-plan scalar, not a
    collect).  Floats: exact integer counts everywhere; one ln and
    two divisions per (source, token) term, round(9) both sides for
    the accumulation order."""
    tok = tbl(spark, sf_dir, "documents", spread="doc_id").select(
        "source", F.explode(_toks(F.lower(F.col("text")))).alias("w")
    )
    sw = tok.groupBy("source", "w").agg(F.count("*").alias("c_sw"))
    wt = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    st = sw.groupBy("source").agg(
        F.sum("c_sw").alias("n_s"), F.count("*").alias("n_types")
    )
    tot = sw.agg(F.sum("c_sw").alias("n"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    terms = (
        sw.join(wt, "w")
        .join(st, "source")
        .crossJoin(tot)
        .select(
            "source",
            "n_s",
            "n_types",
            (
                (d("c_sw") / d("n_s"))
                * F.log((d("c_sw") * d("n")) / (d("n_s") * d("c_w")))
            ).alias("kl_term"),
            F.abs(d("c_sw") / d("n_s") - d("c_w") / d("n")).alias("tv_term"),
            (d("c_w") / d("n")).alias("pc_term"),
        )
    )
    return terms.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.max("n_types").alias("n_types"),
        F.round(F.sum("kl_term"), 9).alias("kl_vs_corpus"),
        F.round(
            0.5 * (F.sum("tv_term") + (F.lit(1.0) - F.sum("pc_term"))), 9
        ).alias("tvd_vs_corpus"),
    )
