"""Deduplication operators for training-data pipelines (SURVEY §7 phase 5).

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — each designed shuffle-minimal:

* Shingling, MinHash signatures, and SimHash are **row-local array
  algebra** (``transform``/``array_min``/``aggregate``): a document's
  whole sketch is computed in one pass over its row, no explode+groupBy
  re-aggregation.  The only shuffles are the candidate-pair groupings.
* Candidate generation groups by shingle / LSH bucket and expands pairs
  from the collected member list through two PIPELINED explodes — never
  a self-join on a skewed key, and never a row that materializes the
  k²/2 pair structs (GenerateExec streams; the largest array any row
  holds is the k-element docs list itself).  Shingle paths additionally
  bound the list (stop-shingles with doc frequency > MAX_DOC_FREQ are
  dropped; without that cap the hottest shingle alone produces O(df²)
  pairs at 100 TB).
* Hashes are md5 hex strings (identical on every engine); the 8 MinHash
  "permutations" are 8-hex-char slices of two seeded digests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import query
from ..functions.vectors import as_double
from ._util import shared_plan, tbl

MAX_DOC_FREQ = 100  # stop-shingle cap for candidate generation
N_HASHES = 8
N_BANDS = 4  # 4 bands × 2 rows

# Mega-bucket pair expansion (r8 verdict lead item, r10 redesign): an
# LSH bucket with k members expands k(k-1)/2 pairs.  The pair SET is
# the answer — the oracle agrees it is quadratic for a genuine
# duplicate cluster — but no single Spark row may materialize it.  The
# r8 flatten built the full k²/2 struct array in one row (multi-GB at
# k = 10⁷, executor OOM); the r9 fix sliced buckets into 512-element
# chunks and joined chunk pairs, which bounded rows but tripled the
# members-exchange reads and cost 1.8× at sf1 on benign data.  r10
# replaces both with two PIPELINED explodes (_pairs_from_members):
# GenerateExec streams one (i, doc_a) at a time, so the largest array
# any row ever materializes is the k-element docs list / its i-prefix
# slice — O(k) longs, not O(k²) structs — with ONE read of the members
# exchange, no join, no union.  Measured on a 50k-bucket frame with a
# planted 5k mega-bucket: 20× faster than the r8 flatten, 4× faster
# than the r9 chunked join, identical pair multiset.

# ---------------------------------------------------------------------------
# Shared shingling (3-word shingles, distinct per doc, row-local)
# ---------------------------------------------------------------------------

_SHINGLES_SQL = """
    toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS a
      FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(a) - 1),
                    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS sh
      FROM toks WHERE len(a) >= 3
    )
"""


def tokens_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, a: array<string>) whitespace tokens — works on any frame
    with (doc_id, text), batch or streaming (shared by
    streaming/minhash_stream.py so stream sketches are bit-identical)."""
    return docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("a"),
    )


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the md5-heavy sketch projections downstream must not run
    # as one task on the single-row-group testdata.
    return tokens_frame(tbl(spark, sf_dir, "documents", spread="doc_id"))


def shingle_arrays_frame(toks: DataFrame) -> DataFrame:
    """(doc_id, shs: array<string>) — distinct 3-word shingles, row-local."""
    toks = toks.filter(F.size("a") >= 3)
    idx = F.sequence(F.lit(1), F.size("a") - 2)
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at("a", i),
            F.element_at("a", i + 1),
            F.element_at("a", i + 2),
        ),
    )
    return toks.select("doc_id", F.array_distinct(sh).alias("shs"))


def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingle_arrays_frame(_tokens(spark, sf_dir))


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, sh) view of the shingle arrays."""
    return _shingle_arrays(spark, sf_dir).select(
        "doc_id", F.explode("shs").alias("sh")
    )


def _pairs_from_members(members: DataFrame) -> DataFrame:
    """Expand sorted member arrays into (doc_a < doc_b) pairs through
    two PIPELINED explodes — the r10 form every candidate path uses,
    bounded for any bucket size.

    For each docs array (sorted ascending) the first explode streams
    the 1-based upper index i over 1..size-1; the second explode
    streams the i-prefix slice as doc_a against docs[i] as doc_b.
    GenerateExec is an iterator — one output row in flight at a time,
    no buffering between consecutive Generates — and inside the
    whole-stage pipeline the generated rows stay VIRTUAL: the retained
    docs column is a reference until the shuffle boundary, where
    column pruning has already dropped it, so the rows that actually
    materialize (into the downstream distinct/groupBy exchange) are
    bare (doc_a, doc_b) pairs.  The largest array any row holds is the
    docs list itself or an i-prefix slice — O(k) longs, never O(k²)
    structs.  The r8 flatten form built the full k²/2 struct array per
    row (multi-GB at k = 10⁷, executor OOM); the r9 chunk-and-join
    form bounded rows at 512 elements but paid 3 reads of the members
    exchange + a join on benign data.  This form is strictly better on
    both axes measured (20× vs flatten, 4× vs chunked on a planted
    mega-bucket frame) and emits the identical pair multiset.  A
    poisoned mega-bucket's quadratic pair stream stays in one task —
    accepted: the output pair count, not per-row memory, binds there.

    Size-<2 arrays are filtered out (F.sequence(1, 0) is DESCENDING in
    Spark — it must never reach the explode).

    The round-robin repartition before the explodes is the r10 width
    fix (guide §2.5 "input skew"/§2.2): the expansion's output is
    O(k²) per bucket while its input is O(k), so AQE — which sizes
    post-shuffle partitions by INPUT bytes — handed the whole
    expansion ~10 near-idle tasks at sf1 (measured: dedup_winnow's
    expansion stage read 12.7 MB, wrote 261 MB, 45 s of CPU on 10 of
    32 cores).  Spreading the member rows first costs one exchange of
    the SMALL pre-expansion frame and parallelizes the quadratic work;
    a single poisoned mega-bucket is still one row → one task
    (accepted, as above — only the pair count binds there).  Shuffling
    happens strictly BEFORE the explodes, so no O(k²) row ever crosses
    the wire."""
    spread = members.filter(F.size("docs") >= 2).repartition(
        members.sparkSession.sparkContext.defaultParallelism
    )
    step1 = spread.select(
        "docs",
        F.explode(F.sequence(F.lit(1), F.size("docs") - 1)).alias("i"),
    )
    return step1.select(
        F.explode(F.slice("docs", 1, F.col("i"))).alias("doc_a"),
        F.element_at("docs", F.col("i") + 1).alias("doc_b"),
    )


# Pair-key packing (r11, guide §2.3 "narrower types"): the candidate
# paths aggregate (distinct / count) over (doc_a, doc_b) int64 pairs.
# With 0 <= doc_a < doc_b < 2^31 (member lists are array_sort'ed int
# ids) the pair packs EXACTLY into one int64 as doc_a*2^31 + doc_b —
# a 24->16 byte exchange row and a one-long hash-agg key.  Ids at or
# past 2^31 fail fast in-plan rather than wrap silently (wider corpora
# must widen the pack), and so do negative ids, which Spark's
# truncating div/% would unpack into the wrong pair.  div/mod invert
# the pack, so unpacked output is bit-identical to the unpacked
# aggregation.
_PAIR_PACK = 1 << 31


def _packed_pairs_from_members(members: DataFrame) -> DataFrame:
    """(pk) packed pair stream — `_pairs_from_members` with the pack
    folded into the generate pipeline, so bare 8-byte keys (not 16-byte
    pairs) enter the downstream distinct/count exchange."""
    return _pairs_from_members(members).select(
        F.when(
            (F.col("doc_a") >= 0) & (F.col("doc_b") < F.lit(_PAIR_PACK)),
            F.col("doc_a") * F.lit(_PAIR_PACK) + F.col("doc_b"),
        )
        .otherwise(
            F.raise_error(
                F.lit("doc pair key < 0 or >= 2^31: widen the pair packing")
            ).cast("long")
        )
        .alias("pk")
    )


def _unpack_pairs(df: DataFrame) -> DataFrame:
    """Invert `_packed_pairs_from_members`: (pk, rest...) ->
    (doc_a, doc_b, rest...)."""
    rest = [c for c in df.columns if c != "pk"]
    return df.select(
        F.expr(f"pk div {_PAIR_PACK}").alias("doc_a"),
        (F.col("pk") % F.lit(_PAIR_PACK)).alias("doc_b"),
        *rest,
    )




# --- exact dedup: hash-groupBy ----------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on md5(text), not the raw text: the shuffle key
    is 32 bytes regardless of document size — at 100 TB that is the
    difference between shuffling hashes and shuffling the corpus."""
    return (
        tbl(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# --- n-gram Jaccard near-dup --------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    df AS (
      SELECT sh FROM shingles GROUP BY sh HAVING COUNT(*) <= {MAX_DOC_FREQ}
    ),
    filtered AS (SELECT s.* FROM shingles s JOIN df USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM filtered a JOIN filtered b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           common / (sa.n + sb.n - common) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE common / (sa.n + sb.n - common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs (≥ 0.5).

    Plan shape: per-shingle member lists (one groupBy) → row-local pair
    expansion → pair-count aggregation (second groupBy) → broadcast join
    of per-doc sizes (row-local ``size(shs)``, no extra aggregation).
    Stop-shingles are dropped by bounding the member list size."""
    # Persist the per-doc shingle arrays (one row per doc): the exploded
    # pair path and the row-local sizes both read them, and the size
    # joins below carry explicit broadcast hints so cached-stats
    # inflation can't demote them (see ARCHITECTURE.md).
    arrays = _shingle_arrays(spark, sf_dir).transform(shared_plan)
    sh = arrays.select("doc_id", F.explode("shs").alias("sh"))
    sizes = arrays.select("doc_id", F.size("shs").alias("n"))
    members = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= MAX_DOC_FREQ))
    )
    pairs = _unpack_pairs(
        _packed_pairs_from_members(members)
        .groupBy("pk")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("common") / (F.col("sa.n") + F.col("sb.n") - F.col("common"))
    return (
        pairs.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


# --- MinHash + LSH banding -----------------------------------------------------
#
# PARAMETERIZED (round-4 VERDICT item 8): at 100 TB the (n_perm, bands,
# rows) triple trades recall against candidate volume and must be
# tunable per corpus.  Permutation h slices 8 hex chars from digest
# md5('x'*(h//4) || shingle) at offset (h%4)*8 — any n_perm that is a
# multiple of 4 costs ceil(n_perm/4) md5 calls per shingle.  The
# default 8-perm / 4×2 operating point and a higher-recall 16-perm /
# 8×2 point are both registered and both hash-checked (the second under
# its own dedup_lsh_quality_hi gate).


def _minhash_sql(n_perm: int = N_HASHES, rows: int = 2) -> str:
    """DuckDB CTE fragment for the (n_perm, bands=n_perm//rows, rows)
    sketch — structurally identical to minhash_sigs_frame/_band_rows."""
    return f"""
    hashes AS (
      SELECT doc_id, h,
             MIN(substr(md5(repeat('x', h // 4) || sh), (h % 4) * 8 + 1, 8))
               AS mh
      FROM shingles, range({n_perm}) t(h)
      GROUP BY doc_id, h
    ),
    bands AS (
      SELECT doc_id, h // {rows} AS band,
             md5(string_agg(mh, ',' ORDER BY h)) AS bucket
      FROM hashes
      GROUP BY doc_id, h // {rows}
    )
"""


_MINHASH_SQL = _minhash_sql(N_HASHES, 2)


def minhash_sigs_frame(arrays: DataFrame, n_perm: int = N_HASHES) -> DataFrame:
    """(doc_id, sig: array<string>[n_perm]) — fully row-local signatures.

    ceil(n_perm/4) md5 digests per shingle, each sliced into 4 hex
    windows; signature element h is the array-min over the doc's
    shingles.  No explode, no aggregation — a doc's sketch never leaves
    its row."""
    n_digests = (n_perm + 3) // 4

    # single-arg lambda factories: a two-parameter lambda would be
    # interpreted by F.transform as (element, index)
    def _digest(d: int):
        return lambda s: F.md5(F.concat(F.lit("x" * d), s))

    def _slice8(h: int):
        return lambda x: F.substring(x, (h % 4) * 8 + 1, 8)

    digests = [
        F.transform("shs", _digest(d)).alias(f"d{d}") for d in range(n_digests)
    ]
    with_digests = arrays.select("doc_id", *digests)
    sig = F.array(
        *[
            F.array_min(F.transform(f"d{h // 4}", _slice8(h)))
            for h in range(n_perm)
        ]
    )
    return with_digests.select("doc_id", sig.alias("sig"))


def _minhash_sigs(
    spark: SparkSession, sf_dir: str, n_perm: int = N_HASHES
) -> DataFrame:
    """Default-permutation signatures are SESSION-SHARED: five queries
    (minhash LSH, connected components via _lsh_candidate_pairs,
    modularity, LSH quality, split leakage) rebuild the identical
    tokenize->digest->min pipeline over the documents corpus — one
    shared_persist'd copy per (session, sf_dir) serves them all (the
    round-7 graph-family edge-cache pattern).  Non-default n_perm
    (the second LSH operating point) stays per-query."""
    from ._util import shared_frame, shared_persist

    if n_perm != N_HASHES:
        return minhash_sigs_frame(_shingle_arrays(spark, sf_dir), n_perm=n_perm)
    return shared_frame(
        spark,
        sf_dir,
        "minhash_sigs",
        lambda: shared_persist(
            minhash_sigs_frame(_shingle_arrays(spark, sf_dir))
        ),
        mtime_table="documents",
    )


def _band_rows(sigs: DataFrame, n_bands: int = N_BANDS, rows: int = 2) -> DataFrame:
    """(doc_id, band, bucket) — n_bands band buckets per doc, row-local
    from the signature array (bucket = md5 of the band's ``rows``
    slices, comma-joined)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(",", F.slice("sig", b * rows + 1, rows))
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_MINHASH_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sigs AS (
      SELECT doc_id, list(mh ORDER BY h) AS sig FROM hashes GROUP BY doc_id
    )
    SELECT doc_a, doc_b,
           len(list_filter(range({N_HASHES}), i -> sa.sig[i+1] = sb.sig[i+1]))
             / {N_HASHES} AS est_jaccard
    FROM cand
    JOIN sigs sa ON doc_a = sa.doc_id
    JOIN sigs sb ON doc_b = sb.doc_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 seeded slices) → 4×2 LSH bands → bucket grouping →
    row-local pair expansion → signature-agreement Jaccard estimate.

    One shuffle for bucket membership, one distinct over candidate
    pairs, two broadcast signature joins.  The full pairwise matrix
    never materializes IN ANY SINGLE ROW: a poisoned mega-bucket (k
    identical docs → one k-member bucket) streams its inherently
    quadratic pair set (the oracle agrees it is the answer) through
    _pairs_from_members' pipelined explodes — no row ever holds more
    than the k-element member list — graceful degradation, not OOM.
    """
    # The (tiny: 8 strings/doc) signature table is session-shared and
    # persisted inside _minhash_sigs: three consumers here (bands, and
    # both sides of the candidate join) plus four other queries reuse
    # one tokenize→digest→min pass.  The downstream joins carry
    # explicit broadcast hints, so the InMemoryRelation's inflated
    # size stats can't demote them to sort-merge (the failure mode
    # that made a naive persist slower — see ARCHITECTURE.md).
    sigs = _minhash_sigs(spark, sf_dir)
    band_rows = _band_rows(sigs)
    members = (
        band_rows.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    # no pair packing here: the distinct's partial aggregate already
    # collapses the pairs map-side, so a packed key saves nothing and
    # its guard+pack projection only adds cost; the COUNT aggregations
    # below keep the pack.
    cand = _pairs_from_members(members).distinct()
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    n_agree = F.size(
        F.filter(
            F.zip_with(F.col("sa.sig"), F.col("sb.sig"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    return (
        cand.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", (n_agree / N_HASHES).alias("est_jaccard"))
    )


# Shared 16-bit SimHash oracle fragment (words -> per-bit +-1 sums ->
# bit string) — dedup_simhash AND dedup_signal_panel build from it so
# the signature definition cannot drift between operator and gate.
_SIMHASH16_SQL = """words16 AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ),
    sbits AS (
      SELECT doc_id, j,
             SUM(CASE WHEN strpos('0123456789abcdef',
                                  substr(md5(w), j + 1, 1)) - 1 >= 8
                      THEN 1 ELSE -1 END) AS weight
      FROM words16, range(16) t(j)
      GROUP BY doc_id, j
    ),
    sh16 AS (
      SELECT doc_id,
             string_agg(CASE WHEN weight >= 0 THEN '1' ELSE '0' END,
                        '' ORDER BY j) AS sig
      FROM sbits GROUP BY doc_id
    )"""


# --- SimHash signatures -----------------------------------------------------------
@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SIMHASH16_SQL}
    SELECT doc_id, sig AS simhash FROM sh16
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over the token multiset, fully row-local: one md5
    per token, then per-bit ±1 sums via sequential array folds — a doc's
    signature is computed without any shuffle at all.  Near-dups differ
    in few bits; group by signature (or band substrings) to find them."""
    toks = _tokens(spark, sf_dir).filter(F.size("a") >= 1)
    digests = toks.select("doc_id", F.transform("a", lambda w: F.md5(w)).alias("ds"))
    hexv = "0123456789abcdef"
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: F.when(
            F.aggregate(
                "ds",
                F.lit(0),
                lambda acc, d: acc
                + F.when(
                    F.instr(F.lit(hexv), F.substring(d, j + 1, F.lit(1))) - 1 >= 8, 1
                ).otherwise(-1),
            )
            >= 0,
            "1",
        ).otherwise("0"),
    )
    return digests.select("doc_id", F.array_join(bits, "").alias("simhash"))


# --- embedding-cosine near-dup ------------------------------------------------------
COS_THRESHOLD = 0.3
COS_BANDS = 4
# Corpus-adaptive banding, round-8 form (the round-7 two-rung switch
# capped total buckets at 512, so in-bucket pair work went ~N²/256 past
# its last rung — the r7 verdict's one named scale ceiling).  The rule
# is now the same count-derived discipline as dedup_semantic's
# refinement bits (_min_rung_expr): 4 bands of b bits each, b = the
# SMALLEST integer in [COS_MIN_BITS, COS_MAX_BITS] with
#     COS_BANDS * COS_TARGET_BUCKET * 2^b >= N,
# over the checked-in 64-plane set (band i = signature bits
# [i*b, (i+1)*b)).  Expected in-band bucket population is thereby
# bounded at ~COS_BANDS*COS_TARGET_BUCKET (=128) for any corpus up to
# COS_BANDS*COS_TARGET_BUCKET*2^16 ≈ 8.4M vectors — candidate-pair
# work grows LINEARLY in N, and past the 16-bit rung the
# COS_BUCKET_CAP backstop below still bounds per-vector work.
# TARGET=32 is the measured cost/recall point: at the synthesized sf1
# (50k clustered vectors) it holds candidate pairs near the r7
# two-rung level while 4 bands keep recall strictly ABOVE the r7
# 2x8-bit mode at every rung (r7: P(cos .95) = 1-(1-p^8)^2 = 0.67).
#
# Recall model (p = 1 - theta/pi, P = 1 - (1 - p^b)^4): growing b
# trades moderate-cosine recall for boundedness, so the result set is
# corpus-size-dependent BY DESIGN — at b=4 (gate SFs) collision at
# cos 0.95/0.6/0.3 is ~1.0/0.90/0.42; at b=9 it is 0.86/0.21/0.01; at
# the b=16 ceiling it is 0.55 even at cos 0.95 while cos>=0.999 stays
# >=0.998.  Banded LSH was NEVER recall-complete at moderate cosine;
# the contract of the queries built on this helper is HIGH-cosine
# near-dup candidate generation with an exact post-filter — corpora
# needing recall-complete moderate-similarity pairs use the exact
# tiers (dedup_cosine_allpairs yardstick, sim_threshold_join).  b is
# derived with integer comparisons only, carried IN-PLAN (a broadcast
# 1-row count aggregate), and the oracle computes the identical rule —
# so both engines always pick the same buckets and the gate stays
# hash-exact at every SF.
COS_MIN_BITS = 4
COS_MAX_BITS = 16  # COS_BANDS * COS_MAX_BITS = 64 = len(PLANES64)
COS_TARGET_BUCKET = 32
# Bucket-population backstop (MinHash's MAX_DOC_FREQ discipline, for
# hyperplane buckets): adaptive bits bound the EXPECTED population, but
# an adversarially clustered corpus (e.g. 10k identical vectors) still
# lands one bucket per band with the whole cluster in it.  Each
# (band, bucket) keeps only its COS_BUCKET_CAP lowest vec_ids
# (deterministic, oracle-identical), so per-bucket pair work is capped
# at CAP² and total work at COS_BANDS*CAP*N — members beyond the cap
# lose candidacy IN THAT BUCKET only (they may still collide in
# another band); the recall trade is documented at the consumers.
COS_BUCKET_CAP = 1024


def _cos_bands_sql() -> str:
    """Oracle fragment: adaptive (vec_id, b, bucket) rows over a ``sig``
    CTE — the DuckDB twin of :func:`_cos_band_rows` (count-derived band
    bits + the COS_BUCKET_CAP population backstop)."""
    return f"""cbits AS (
      -- COALESCE: when no b satisfies the bound (astronomical N) cap
      -- at COS_MAX_BITS — MIN over the empty set is NULL and
      -- substr(sig, x, NULL) would NULL every bucket
      SELECT COALESCE(MIN(b), {COS_MAX_BITS}) AS b
      FROM range({COS_MIN_BITS}, {COS_MAX_BITS + 1}) t(b)
      WHERE {COS_BANDS * COS_TARGET_BUCKET} * (CAST(1 AS BIGINT) << b)
              >= (SELECT COUNT(*) FROM embeddings)
    ),
    bands AS (
      SELECT vec_id, b, bucket FROM (
        SELECT vec_id, b, bucket,
               row_number() OVER (PARTITION BY b, bucket
                                  ORDER BY vec_id) AS rn
        FROM (
          SELECT s.vec_id, t.b AS b,
                 substr(s.sig, CAST(t.b * c.b + 1 AS INT),
                        CAST(c.b AS INT)) AS bucket
          FROM sig s, range({COS_BANDS}) t(b), cbits c
        )
      ) WHERE rn <= {COS_BUCKET_CAP}
    )"""


def _min_rung_expr(
    n_col: Column, bound_col: Column, lo: int, hi: int, default: int
) -> Column:
    """Smallest rung b in [lo, hi] with bound·2^b >= N, as a pure
    integer expression over precomputed 2^b literals (no float log2 —
    the 2^53 integer→double determinism rule); ``default`` when no
    rung satisfies the bound (MIN over the empty set is NULL).  The
    ONE definition of the rung-filter idiom — the cosine banding
    (:func:`_cos_bits_expr`) and the SemDeDup refinement
    (:func:`_semdedup_sub_frame`) both instantiate it, so a rule
    change cannot be applied to one and silently missed in the other
    (r8 review catch: the first cut duplicated the algebra inline)."""
    rungs = F.array(
        *[
            F.struct(F.lit(b).alias("b"), F.lit(1 << b).alias("p2"))
            for b in range(lo, hi + 1)
        ]
    )
    return F.coalesce(
        F.array_min(
            F.transform(
                F.filter(
                    rungs,
                    lambda s: s["p2"].cast("long") * bound_col >= n_col,
                ),
                lambda s: s["b"],
            )
        ),
        F.lit(default),
    )


def _cos_bits_expr(n_col: Column) -> Column:
    """Smallest band-bit rung b with BANDS*TARGET*2^b >= N — the
    banding instantiation of :func:`_min_rung_expr`, shared by
    :func:`_cos_band_rows`'s oracle twin and the signature frame
    (:func:`_cos_sig_frame`) so the folded bit count can never drift
    from the bits the banding consumes."""
    return _min_rung_expr(
        n_col,
        F.lit(COS_BANDS * COS_TARGET_BUCKET).cast("long"),
        COS_MIN_BITS,
        COS_MAX_BITS,
        COS_MAX_BITS,
    )


def _cos_band_rows(e: DataFrame) -> DataFrame:
    """(vec_id, band, bucket) with corpus-adaptive banding over a frame
    carrying (vec_id, sig): count-derived band bits (see the rule at
    COS_MIN_BITS) plus the COS_BUCKET_CAP population backstop.

    The band width is read STRUCTURALLY from the signature the frame
    already carries — ``length(sig) div COS_BANDS`` — because
    ``_cos_sig_frame`` folds exactly ``COS_BANDS·b`` planes for the
    corpus rung b (``_cos_bits_expr``).  Re-deriving b from a fresh
    count here (the first r8 cut) left an implicit count-equality
    coupling: a filtered view of the frame crossing a rung boundary
    would have substring'd past the folded width and silently
    collapsed the high bands into one '' bucket (r8 review catch).
    Reading the width from the sig makes the coupling structural AND
    drops one corpus aggregate + broadcast join per execution.

    The structural read requires ``length(sig)`` to be an exact
    multiple of COS_BANDS — a caller passing e.g. a 16-bit SemDeDup sub
    key with COS_BANDS=4... divides cleanly, but a 17-bit one would
    silently drop the trailing bit from every band's keyspace.  An
    in-plan ``raise_error`` guards that (lazily, like the NULL-bucket
    guard on the lazy ranks — no construction-time action)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket").orderBy("vec_id")
    width_ok = F.pmod(F.length("sig"), F.lit(COS_BANDS)) == 0
    guarded_sig = F.when(width_ok, F.col("sig")).otherwise(
        F.raise_error(
            F.printf(
                F.lit(
                    "_cos_band_rows: length(sig)=%s is not a multiple of "
                    f"COS_BANDS={COS_BANDS} — banding would silently drop "
                    "trailing bits"
                ),
                F.length("sig").cast("string"),
            )
        )
    )
    return (
        e.withColumn("sig", guarded_sig)
        .withColumn("bits", F.expr(f"length(sig) div {COS_BANDS}"))
        .select(
            "vec_id",
            "sig",
            "bits",
            F.explode(F.sequence(F.lit(0), F.lit(COS_BANDS - 1))).alias("band"),
        )
        .select(
            "vec_id",
            "band",
            "sig",
            F.substring(
                "sig", F.col("band") * F.col("bits") + 1, F.col("bits")
            ).alias("bucket"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= COS_BUCKET_CAP)
        # smask: bitmask of the bands this vec_id SURVIVED the cap in —
        # what lets pair consumers dedup candidates AT GENERATION (the
        # first-colliding-band filter, r10) instead of paying a
        # corpus-pair-sized distinct exchange.  One extra vocabulary-
        # sized window on the once-per-session persisted build.
        .withColumn(
            "smask",
            F.sum(F.expr("shiftleft(1L, band)")).over(
                Window.partitionBy("vec_id")
            ),
        )
        .select("vec_id", "band", "bucket", "sig", "smask")
    )


def _banded_pair_scores(
    spark: SparkSession, sf_dir: str, a_name: str, b_name: str
) -> DataFrame:
    """All banded candidate pairs with their EXACT cosine, deduped and
    scored bucket-locally (r10, guide §8) — the shared engine of
    dedup_embedding_cosine and sim_knn_graph.

    The previous shape (band self-join → pair-sized distinct exchange
    → two broadcast joins pulling ``v`` onto every pair → Arrow
    scorer) materialized each vector once PER PAIR: 12.7M pairs × two
    64-double arrays ≈ 13 GB of JVM rows re-serialized into Python —
    measured ~106 s executor CPU warm at sf1, the entire query wall.
    Every decision is bucket-local (a candidate exists only inside a
    ≤COS_BUCKET_CAP (band, bucket) group), so
    :func:`bucket_pair_scores_arrow` ships each bucket's MEMBERS once
    (corpus × COS_BANDS rows ≈ 108 MB at sf1) and forms pairs,
    first-collision dedup (sig/smask — each qualifying pair emitted
    exactly once, from its lowest co-surviving colliding band), and
    the bit-identical per-dimension cosine fold where the vectors
    already are.  Only (a, b, cos) comes back.  Thresholds and top-k
    stay JVM-side (Spark NaN semantics preserved by construction)."""
    from ..functions.vectors import bucket_pair_scores_arrow

    return bucket_pair_scores_arrow(
        _cos_band_frame(spark, sf_dir), COS_BANDS, a_name, b_name
    )


def _cos_band_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared PERSISTED capped band rows — what the production
    candidate generators consume instead of raw ``_cos_band_rows``.

    Every caller SELF-JOINS the band rows for candidate pairs, and an
    unshared frame re-runs the whole exchange→sort→window cap pipeline
    on BOTH join sides (measured at the sf1 gate: sim_knn_graph's
    candidate stage 12.8s unshared vs 3.5-5s shared — the r9 A/B that
    attributed the r8 knn regression to this, not to recall-driven
    candidate growth, which was only +8%).  ``shared_persist`` rather
    than a lazy checkpoint because the sig subtree holds the
    explicit-hint rung-attach broadcast: a checkpoint's ``.rdd``
    submits that broadcast future (and the corpus count) at
    construction, while ``persist()`` registers job-free and the hint
    fires at first action — the identical reasoning (and trap) as
    ``_mmr_cand_frame``."""
    from ._util import shared_frame, shared_persist

    def build() -> DataFrame:
        # r10 (guide §8 layout): the persisted frame carries the
        # payload (v, nrm) ON the band rows, hash-partitioned by
        # (band, bucket) at session width and sorted within partitions
        # so every bucket is whole and contiguous — exactly what the
        # bucket-local pair kernel (bucket_pair_scores_arrow) streams.
        # The vector attach is a broadcast probe of the 1-row-per-vec
        # sig frame onto COS_BANDS rows per vec (never onto pairs);
        # the payload crosses ONE exchange, once per session.  At
        # 100 TB this is the banded storage layout, written once.
        dp = spark.sparkContext.defaultParallelism
        sig = _cos_sig_frame(spark, sf_dir).select("vec_id", "v", "nrm")
        return shared_persist(
            _cos_band_rows(_cos_sig_frame(spark, sf_dir))
            .join(F.broadcast(sig), "vec_id")
            .repartition(dp, "band", "bucket")
            .sortWithinPartitions("band", "bucket", "vec_id")
        )

    return shared_frame(
        spark, sf_dir, "cos_bands", build, mtime_table="embeddings"
    )


def _planes16_sql() -> str:
    """The first 16 plane literals as a DuckDB list-of-lists expression
    (dedup_semantic's sub-bucket refinement needs at most 16 bits)."""
    from ._lsh_planes import PLANES16

    rows = ",".join("[" + ",".join(repr(x) for x in row) + "]" for row in PLANES16)
    return f"[{rows}]"


def _planes64_sql() -> str:
    """All 64 plane literals as a DuckDB list-of-lists expression (the
    banded candidate generation's signature width)."""
    from ._lsh_planes import PLANES64

    rows = ",".join("[" + ",".join(repr(x) for x in row) + "]" for row in PLANES64)
    return f"[{rows}]"


def _cos_sig_prefix(vec_col, nbits_col: Column) -> Column:
    """Sign-bit signature over the first ``nbits_col`` (at most 16, the
    SemDeDup rung ceiling) planes of the checked-in PLANES64 set — a
    DATA-DEPENDENT bit count — without
    paying for the untaken planes: the planes ship as ONE array
    literal, ``slice(planes, 1, nbits)`` keeps exactly the rung's
    prefix, and a single ``transform`` lambda folds each kept plane's
    sign bit — so a corpus at rung b folds exactly b dots per row, in
    the same index order as ``dot``/``list_dot_product`` (bit-exact
    with the per-plane unrolled form and the oracle).  The r8 purity
    rewrite of dedup_semantic first shipped a full 16-plane signature
    cut with ``substring``, folding all 16 planes for every row and
    tripling the query's wall-clock at sf0.1 (bench_diff catch,
    0.99s → 2.68s).  The first cut of THIS helper unrolled one
    CASE-guarded fold per plane; at 64 planes that expression tree
    cost ~3.5s of codegen compile on the plan's first execution
    (measured vs 0.44s for the slice/transform form, outputs
    identical)."""
    from ._lsh_planes import PLANES64
    from ..functions.vectors import dot

    # ONE parsed literal for the plane matrix (r10): the nested
    # F.array/F.lit form built planes×64 Column objects through py4j
    # per call site (~1-2 s of pure construction at 64 planes).
    planes = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in row) + ")"
            for row in PLANES64[:16]
        ) + ")"
    )
    return F.array_join(
        F.transform(
            F.slice(planes, F.lit(1), nbits_col),
            lambda p: F.when(dot(vec_col, p) >= 0, "1").otherwise("0"),
        ),
        "",
    )


def _cos_sig_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, nrm, sig) with the CORPUS-RUNG signature — the
    session-shared static frame behind ``dedup_embedding_cosine`` AND
    ``sim_knn_graph`` (same ``_util.shared_frame`` discipline as the
    graph edge sets: built once per (session, sf_dir), persisted
    non-adaptively so later plan construction over it stays job-free).

    Only the ``COS_BANDS * b`` planes the banding will consume are
    folded, with b the in-plan count rung (``_cos_bits_expr`` — one
    definition shared with ``_cos_band_rows``): each signature bit is
    guarded by CASE WHEN i < 4b (``_cos_sig_prefix``), so a gate-SF
    corpus (b=4) folds 16 dots per row, a 500k corpus (b=12) folds 48,
    and only a near-ceiling corpus pays all 64 — the unconditional
    64-plane fold was measured ~4-5x the whole query at sf0.01-0.1
    (SCALING r8 catch).  Corpus-cardinality, so NO width cap (the r7
    ``shared_plan(width=8)`` choked the band explode's map side at 8
    tasks — r8 advice fix); at 100 TB this is the "compute signatures
    once, persist to storage" layout, with exactly the rung's planes
    in the persisted bytes."""
    from ._util import shared_frame, shared_persist

    def build() -> DataFrame:
        base = tbl(spark, sf_dir, "embeddings", spread="vec_id").select(
            "vec_id", as_double("embedding").alias("v")
        )
        # spread above: the signature + norm math is row-local and
        # heavy — spread the single-row-group scan first.  The norm
        # rides attach_rung_sig's Arrow pass (r10).
        return shared_persist(attach_rung_sig(base))

    return shared_frame(spark, sf_dir, "cos_sig64", build, mtime_table="embeddings")


def attach_rung_sig(base: DataFrame) -> DataFrame:
    """Fold the corpus-rung-width signature (``COS_BANDS·b`` bits,
    b = ``_cos_bits_expr`` of the in-plan count) AND the L2 norm
    (``nrm``) onto a frame carrying (vec_id, v, ...).  THE fold path —
    ``_cos_sig_frame`` and the scale tests both call it, so the
    banding (:func:`_cos_band_rows`, which reads the band width
    structurally from ``length(sig)``) always consumes exactly the
    folded width.

    The rung rides the plan as a broadcast 1-row count aggregate (the
    pmod equi-join attach — a non-foldable runtime-constant key keeps
    the planner on BroadcastHashJoin, never the BNL the dedup plan
    guard bans); under ``shared_persist`` registration is job-free and
    the hint fires at first action.

    r10 (guide §4.2): the fold itself moved from the interpreted
    slice/transform HOF (`_cos_sig_prefix`, nbits·dim lambda closures
    per row — ~10 s of the 13 s cold sf1 build) into ONE Arrow batch
    pass (:func:`rung_sig_norm_arrow`) whose per-dimension NumPy
    accumulation is the bit-identical IEEE sequence; the norm rides
    the same pass, so ``with_norm`` is no longer needed in front.
    ``_cos_sig_prefix`` remains the JVM-side definition of record
    (equality pinned by tests/test_scale_ops.py)."""
    from ..functions.vectors import rung_sig_norm_arrow
    from ._lsh_planes import PLANES64

    nb = base.agg(F.count("*").alias("n_vec")).withColumn(
        "_k", F.pmod(F.col("n_vec"), F.lit(1))
    )
    nbits = COS_BANDS * _cos_bits_expr(F.col("n_vec"))
    tagged = (
        base.withColumn("_k", F.pmod(F.col("vec_id"), F.lit(1)))
        .join(F.broadcast(nb), "_k")
        .withColumn("__nbits", nbits)
        .drop("_k", "n_vec")
    )
    return rung_sig_norm_arrow(tagged, PLANES64)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH planes AS (SELECT {_planes64_sql()} AS ps),
    sig AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             (SELECT string_agg(
                CASE WHEN list_dot_product(embedding::DOUBLE[], p) >= 0
                     THEN '1' ELSE '0' END, '' ORDER BY j)
              FROM (SELECT unnest(ps) AS p,
                           generate_subscripts(ps, 1) AS j
                    FROM planes) t) AS sig
      FROM embeddings
    ),
    {_cos_bands_sql()},
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.b = b.b AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b,
           list_dot_product(sa.v, sb.v)
             / (sqrt(list_dot_product(sa.v, sa.v))
                * sqrt(list_dot_product(sb.v, sb.v))) AS cos_sim
    FROM cand
    JOIN sig sa ON vec_a = sa.vec_id
    JOIN sig sb ON vec_b = sb.vec_id
    WHERE list_dot_product(sa.v, sb.v)
            / (sqrt(list_dot_product(sa.v, sa.v))
               * sqrt(list_dot_product(sb.v, sb.v))) >= {COS_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.3): banded-LSH candidate
    generation, exact cosine scoring on candidates only.

    Scale shape (the r1 all-pairs ``a.vec_id < b.vec_id`` BNL join was a
    named scale-killer): 64 deterministic hyperplanes (checked-in
    literals, shared with the DuckDB oracle) → 64-bit sign signature,
    row-local, computed ONCE per session (``_cos_sig_frame``) →
    CORPUS-ADAPTIVE banding (``_cos_band_rows``: 4 bands × b bits, b
    count-derived so expected bucket population stays ~128 up to ~8.4M
    vectors, plus the COS_BUCKET_CAP=1024 backstop — pair work is
    LINEAR in N, see the rule and recall model at COS_MIN_BITS) →
    candidate pairs formed, deduped (first-colliding-band) and scored
    BUCKET-LOCALLY in one Arrow pass over the (band, bucket)-laid-out
    member rows (``_banded_pair_scores`` — never a cartesian product,
    never a pair-sized exchange, and the vectors cross the Python
    boundary once per band row instead of once per pair).

    RESULT-SET DISCONTINUITY (documented contract, r8 advice): the
    band bits grow with the corpus, so moderate-cosine recall DROPS as
    N crosses each rung (collision at cos 0.6: 0.90 at b=4 → 0.31 at
    b=8) and capped buckets shed their highest vec_ids; only HIGH
    cosine (≥ ~0.99) keeps near-complete recall at every rung.  This
    is a near-dup candidate generator, not a recall-complete
    moderate-similarity join — that form survives exactly as
    ``dedup_cosine_allpairs`` (unregistered; recall-measured in
    tests/test_scale_ops.py) and ``sim_threshold_join``."""
    # r10 (guide §8): candidate generation, dedup, and exact scoring
    # all happen bucket-locally inside one Arrow pass — see
    # _banded_pair_scores.  The pair-sized distinct exchange AND the
    # 13 GB per-pair vector attach are gone; only (a, b, cos) rows
    # exist JVM-side.  The threshold stays here (Spark NaN semantics).
    return _banded_pair_scores(spark, sf_dir, "vec_a", "vec_b").filter(
        F.col("cos_sim") >= COS_THRESHOLD
    )


def dedup_cosine_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs threshold-cosine baseline (O(N²) BNL join) —
    UNREGISTERED: verification-only yardstick for the LSH variant's
    recall; never the operator a pipeline should reach for."""
    from ..functions.vectors import cosine_prenormed, with_norm

    e = with_norm(
        tbl(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("v")
        )
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = cosine_prenormed(
        F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COS_THRESHOLD)
    )


# --- dedup keep-policy: per-group survivor + drop list -------------------------------
@query(
    "dedup_keep_policy",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
               AS rnk
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN rnk = 1 THEN 'keep' ELSE 'drop' END AS decision
    FROM ranked
    """,
)
def dedup_keep_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision step of any dedup pipeline: within each duplicate
    group (here: source block), keep one canonical row by a
    deterministic policy (longest text, id tiebreak), mark the rest for
    dropping — a rank window per group, no collect."""
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(F.row_number().over(w) == 1, "keep").otherwise("drop").alias("decision"),
    )


# --- composed cleaning pipeline: dedup -> quality gate -------------------------------
@query(
    "pipeline_dedup_clean",
    oracle="""
    WITH keep AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
      FROM documents GROUP BY md5(text)
    )
    SELECT d.doc_id, d.source, d.lang, CAST(d.n_chars AS INT) AS n_chars
    FROM documents d JOIN keep USING (doc_id)
    WHERE d.n_chars >= 50
    """,
)
def pipeline_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end LLM-corpus cleaning composition: exact dedup
    (first doc_id per content hash — the canonical-survivor policy)
    then a quality gate (minimum length), emitting the cleaned corpus
    a training pipeline would materialize.  Plan: hash-groupBy on the
    32-byte digest, survivor semi-join back on doc_id (both shuffle
    keys tiny and uniform), length filter pushed to the scan."""
    docs = tbl(spark, sf_dir, "documents")
    keep = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        docs.join(keep, "doc_id", "left_semi")
        .filter(F.col("n_chars") >= 50)
        .select("doc_id", "source", "lang", F.col("n_chars").cast("int"))
    )


# --- winnowing fingerprints (MOSS, Schleimer et al. 2003) ---------------------------
WINNOW_K = 3  # k-gram size (tokens)
WINNOW_W = 4  # winnowing window (k-gram hashes)
WINNOW_MIN_SHARED = 2


@query(
    "dedup_winnow",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS a
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_transform(range(1, len(a) - {WINNOW_K} + 2),
               i -> substr(md5(a[i] || ' ' || a[i+1] || ' ' || a[i+2]), 1, 8)) AS h
      FROM toks WHERE len(a) >= {WINNOW_K + WINNOW_W - 1}
    ),
    pe AS (
      SELECT doc_id,
             list_transform(range(1, len(h) + 1),
               j -> h[j] || ':' || lpad(CAST(999999 - j AS VARCHAR), 6, '0')) AS p
      FROM grams
    ),
    sel AS (
      SELECT DISTINCT doc_id,
             substr(unnest(list_transform(range(1, len(p) - {WINNOW_W} + 2),
               i -> list_aggregate(p[i : i + {WINNOW_W} - 1], 'min'))), 1, 8) AS fp
      FROM pe
    ),
    capped AS (
      SELECT fp FROM sel GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND {MAX_DOC_FREQ}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM sel a JOIN capped USING (fp) JOIN sel b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared
    FROM pairs WHERE n_shared >= {WINNOW_MIN_SHARED}
    """,
)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint dedup (the MOSS algorithm, Schleimer et
    al. SIGMOD'03): hash every {WINNOW_K}-token gram, slide a
    {WINNOW_W}-hash window, keep each window's minimum (rightmost on
    ties — encoded by suffixing the INVERTED position so one string
    ``min`` picks both), and report document pairs sharing >=
    {WINNOW_MIN_SHARED} selected fingerprints.  Winnowing guarantees
    any shared run of {WINNOW_K + WINNOW_W - 1}+ tokens yields a shared
    fingerprint — position-robust passage-overlap detection, the
    property plain MinHash (whole-doc similarity) does not give.

    Scale shape mirrors dedup_minhash_lsh: selection is entirely
    row-local (one scan, array ops — no shuffle until the fingerprint
    groupBy), hot fingerprints are capped at doc-freq {MAX_DOC_FREQ}
    (the stop-shingle discipline), and pairs expand from bounded member
    lists, never a self-join on a skewed key."""
    toks = _tokens(spark, sf_dir).filter(
        F.size("a") >= WINNOW_K + WINNOW_W - 1
    )
    gram = F.transform(
        F.sequence(F.lit(1), F.size("a") - (WINNOW_K - 1)),
        lambda i: F.substring(
            F.md5(
                F.concat_ws(
                    " ",
                    F.element_at("a", i),
                    F.element_at("a", i + 1),
                    F.element_at("a", i + 2),
                )
            ),
            1,
            8,
        ),
    )
    grams = toks.select("doc_id", gram.alias("h"))
    pe = F.transform(
        F.sequence(F.lit(1), F.size("h")),
        lambda j: F.concat(
            F.element_at("h", j),
            F.lit(":"),
            F.lpad((F.lit(999999) - j).cast("string"), 6, "0"),
        ),
    )
    pes = grams.select("doc_id", pe.alias("p"))
    # Sliding-window min via the sparse-table doubling trick: r[j] =
    # min(p[j], p[j+1]), window-of-4 min = min(r[i], r[i+2]) — two
    # cheap passes of least() on direct element_at lookups.  The naive
    # array_min(slice(p, i, w)) allocates a w-array per window inside
    # an INTERPRETED lambda (HOFs get no codegen) — measured 65s -> 4s
    # on the sf0.01 corpus for this one projection.
    r2 = F.transform(
        F.sequence(F.lit(1), F.size("p") - 1),
        lambda j: F.least(F.element_at("p", j), F.element_at("p", j + 1)),
    )
    paired = pes.select("doc_id", r2.alias("r"))
    win_min = F.transform(
        F.sequence(F.lit(1), F.size("r") - (WINNOW_W - 2)),
        lambda i: F.substring(
            F.least(F.element_at("r", i), F.element_at("r", i + 2)), 1, 8
        ),
    )
    sel = (
        paired.select(
            "doc_id", F.explode(F.array_distinct(win_min)).alias("fp")
        )
        .distinct()
    )
    members = (
        sel.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= MAX_DOC_FREQ))
    )
    return _unpack_pairs(
        _packed_pairs_from_members(members)
        .groupBy("pk")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )


# --- semantic dedup (SemDeDup shape) ------------------------------------------------
SEMDEDUP_TAU = COS_THRESHOLD  # keep policy threshold, shared with oracle
# Target rows per dominance bucket: the (label, sub-bits) refinement
# below keeps every bucket at <= ~this size, so pair work stays ~N·target
# (linear in N) instead of (N/cells)^2 (the r3 scale watch-list item).
# The dominance join is quadratic PER BUCKET, so the default favors
# bounded work; each refinement bit costs recall ≈ (1-θ/π) on
# threshold-grade pairs (≈1 for true near-dups) — raise the target for
# recall-critical corpora.
SEMDEDUP_TARGET_BUCKET = 50


def _semdedup_sub_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared persisted SemDeDup scored frame
    (vec_id, label, v, nrm, sub): normalized vectors plus the
    count-derived sub-bucket refinement key.

    The (n, c) stats ride the plan as a broadcast 1-row aggregate (the
    _cos_band_rows pmod attach — construction launches no job) and the
    bit choice is the same integer-rung filter, in-plan; each
    signature bit is guarded by CASE WHEN i < b so only the b planes
    the rung needs are folded per row (_cos_sig_prefix), equal to the
    old driver-side branch by prefix semantics (b=0 → '').

    ``shared_persist`` is load-bearing, not just a purity device: the
    dominance pass references this frame THREE times (both self-join
    sides + the survivor anti-join), and un-persisted each reference
    re-ran the corpus countDistinct aggregate and the scoring pass —
    measured 0.9s → 2.2s at sf0.1 when the r8 in-plan rewrite first
    shipped without it (the old driver-collect form computed the stats
    once and re-scanned only the cheap scoring)."""
    from ..functions.vectors import with_norm
    from ._util import shared_frame, shared_persist

    def build() -> DataFrame:
        # spread (r10): the persisted frame inherits the scan's split
        # count (4 single-row-group files at sf1), and every downstream
        # stage of the dominance pass — including the cosine scoring of
        # ~N·target bucket pairs — ran at that width (measured: 4-task
        # 7.3s-CPU scoring stage on 32 cores).  Spread before persist.
        base = tbl(spark, sf_dir, "embeddings", spread="vec_id").select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
        nb = base.agg(
            F.count("*").alias("n"), F.countDistinct("label").alias("c")
        ).withColumn("_k", F.pmod(F.col("n"), F.lit(1)))
        # the SemDeDup instantiation of the shared rung filter: per-
        # LABEL bound c*target, rungs 0..16 (b=0 ⇒ refinement inert)
        bits_col = _min_rung_expr(
            F.col("n"),
            F.col("c") * F.lit(SEMDEDUP_TARGET_BUCKET),
            0,
            16,
            16,
        )
        return shared_persist(
            with_norm(base)
            .withColumn("_k", F.pmod(F.col("vec_id"), F.lit(1)))
            .join(F.broadcast(nb), "_k")
            .withColumn("sub", _cos_sig_prefix(F.col("v"), bits_col))
            .drop("_k", "n", "c")
        )

    return shared_frame(
        spark, sf_dir, "semdedup_sub", build, mtime_table="embeddings"
    )


@query(
    "dedup_semantic",
    oracle=f"""
    WITH nb AS (
      SELECT COUNT(*) AS n, COUNT(DISTINCT label) AS c FROM embeddings
    ),
    bb AS (
      -- COALESCE: when no b in [0,16] satisfies the bound (astronomical
      -- N), the rule caps at 16 — MIN over the empty set is NULL
      -- and substr(sig,1,NULL) would NULL every sub-bucket
      SELECT COALESCE(MIN(b), 16) AS b FROM range(0, 17) t(b), nb
      WHERE c * {SEMDEDUP_TARGET_BUCKET} * (CAST(1 AS BIGINT) << b) >= n
    ),
    planes AS (SELECT {_planes16_sql()} AS ps),
    sig AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             (SELECT string_agg(
                CASE WHEN list_dot_product(embedding::DOUBLE[], p) >= 0
                     THEN '1' ELSE '0' END, '' ORDER BY j)
              FROM (SELECT unnest(ps) AS p,
                           generate_subscripts(ps, 1) AS j
                    FROM planes) t) AS sig
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, label, v,
             substr(sig, 1, (SELECT CAST(b AS INT) FROM bb)) AS sub
      FROM sig
    ),
    dom AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b
        ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) >= {SEMDEDUP_TAU}
    )
    SELECT e.vec_id, e.label
    FROM e LEFT JOIN dom ON e.vec_id = dom.vec_id
    WHERE dom.vec_id IS NULL
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication, SemDeDup-shaped (Abbas et al. 2023,
    arXiv:2303.09540 — no reference analog; LLM-pipeline extension):
    embeddings are bucketed by a coarse cluster id (the stored
    ``label``, standing in for a k-means/IVF cell computed over the
    corpus), and within each bucket a vector is DROPPED when an earlier
    (lower vec_id) bucket member sits at cosine ≥ τ.  The paper's
    greedy chain is replaced by this dominance rule so the operator is
    deterministic and exactly oracle-able; survivors are returned.

    CORPUS-SIZED CELLS (round-4 rework of the r3 scale watch-list
    item): when the stored label set is too coarse — N/C above
    ``SEMDEDUP_TARGET_BUCKET`` — each label bucket is refined by the
    first ``b`` sign-bits of the checked-in 16-plane LSH signature
    (the same PLANES16 the cosine tiers share), with ``b`` the
    smallest integer making C·target·2^b ≥ N.  Bucket population is
    thereby bounded at ~target regardless of corpus size, so pair
    work is ~N·target — LINEAR in N, not (N/C)².  b is derived with
    integer comparisons only (no float log2) and the oracle computes
    the identical rule, so the gate stays hash-exact at every SF; at
    the gate SFs N/C < target ⇒ b = 0 ⇒ the refinement is inert.
    Hyperplane sub-bucketing is the standard SemDeDup recall trade:
    near-identical vectors share sign bits with prob 1-θ/π per plane.

    Scale: candidate pairs come from the (label, sub) equi-join —
    never a corpus cross join; the dominance set is a narrow distinct
    of ids and the survivor filter is a broadcast-able anti-join.  At
    100 TB, labels are the IVF cell assignment
    (operators/ann.py::ivf_fit_frame) computed once and reused by the ANN
    tiers, and the target keeps each cell's dominance pass bounded."""
    from ..functions.vectors import cosine_prenormed

    e = _semdedup_sub_frame(spark, sf_dir)
    keys = ["label", "sub"]
    a = e.select(
        *keys,
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("a_v"),
        F.col("nrm").alias("a_n"),
    )
    b = e.select(
        *keys,
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("b_v"),
        F.col("nrm").alias("b_n"),
    )
    dominated = (
        a.join(b, keys)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            cosine_prenormed(
                F.col("a_v"), F.col("b_v"), F.col("a_n"), F.col("b_n")
            )
            >= SEMDEDUP_TAU
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return e.join(dominated, "vec_id", "left_anti").select("vec_id", "label")


# --- cross-source corpus overlap ---------------------------------------------------
@query(
    "dedup_source_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT source, list_filter(regexp_split_to_array(text, '\\s+'),
                                 x -> x <> '') AS a
      FROM documents
    ),
    ssh AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(a) - 1),
                    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS sh
      FROM toks WHERE len(a) >= 3
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM ssh GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_shared
      FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_shared AS DOUBLE)
             / CAST(sa.n + sb.n - n_shared AS DOUBLE) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus overlap matrix: exact shingle-set Jaccard
    between every pair of sources — the measurement behind corpus
    mixing decisions (is src3 a re-crawl of src7?) and train/eval
    split hygiene, run BEFORE any dedup pass.  No reference analog;
    LLM-pipeline extension alongside pipeline_mixture_weights.

    Scale shape: state collapses to DISTINCT (source, shingle) — the
    shuffle key is the shingle, the value a source id; the pair join
    is per-shingle with fan-out ≤ #sources² (10² here, bounded by the
    source vocabulary, never by document count), and set sizes ride a
    source-sized broadcast.  Exact integers + one final division per
    pair (the cross-engine float rule)."""
    ssh = (
        tokens_frame(tbl(spark, sf_dir, "documents", spread="doc_id")
                     .select(F.col("source").alias("doc_id"), "text"))
        .filter(F.size("a") >= 3)
        .select(
            F.col("doc_id").alias("source"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("a") - 2),
                        lambda i: F.concat_ws(
                            " ",
                            F.element_at("a", i),
                            F.element_at("a", i + 1),
                            F.element_at("a", i + 2),
                        ),
                    )
                )
            ).alias("sh"),
        )
    )
    # r10 rewrite (guide §2.3/§2.4): ONE groupBy(sh) with collect_set
    # replaces the old distinct(source, sh) exchange + ssh⋈ssh
    # self-join — collect_set dedupes (source, sh) in the SAME shuffle
    # (map-side partial sets), per-shingle source lists are bounded by
    # the source vocabulary (≤ ~10), pairs explode row-locally, and
    # sizes fall out of the same member sets.  The old shape paid the
    # distinct exchange, then re-read it for three consumers and ran a
    # 41 s join+agg stage at sf1.  shared_plan: two consumers (pairs +
    # sizes) read the member frame once.
    mem = (
        ssh.groupBy("sh")
        .agg(F.array_sort(F.collect_set("source")).alias("docs"))
        .transform(shared_plan)
    )
    sizes = mem.select(F.explode("docs").alias("source")).groupBy(
        "source"
    ).agg(F.count("*").alias("n"))
    shared = (
        _pairs_from_members(mem)
        .groupBy(
            F.col("doc_a").alias("source_a"),
            F.col("doc_b").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.select(F.col("source").alias("source_a"),
                                     F.col("n").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("source_b"),
                                     F.col("n").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared")).cast("double")
            ).alias("jaccard"),
        )
    )


# --- prefix-filtered set-similarity join (PPJoin family) ----------------------------
PREFIX_TAU = 0.6
_BITMAP_VOCAB_MAX = 64  # bitset verify tier: vocab must fit ONE long


def _ppjoin_ordered_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin document table: per doc, its tokens sorted by corpus
    rarity (``sorted_tids`` — integer ids from the same lazy rank
    that assigns bit positions; strings never leave the vocabulary
    join), plus the bitmap-tier columns (``mask``
    when the whole vocabulary fits one 64-bit word, the lazily-ranked
    vocabulary total ``vn``).

    THREE consumers read it inside ``dedup_prefix_filter_join``
    (prefix generation + both verification sides), so it is
    lazy-checkpointed — and the checkpoint's ``.rdd`` stays PURE
    because the lazy rank below passes ``broadcast_offsets=False``:
    preparing a plan that holds an explicit-hint BroadcastHashJoin
    submits the broadcast future — and with it the whole tokenize
    pass — at construction (the old SHARED purity exemption: one ~20s
    job just to BUILD the plan).  The un-hinted offsets join shuffles
    only the VOCABULARY table on the 64-way bucket key — noise next
    to the token-explode aggregation feeding it.  (A
    ``shared_persist``'d session-cached form was A/B'd here in r8 and
    reverted: columnar-caching the per-doc token arrays made every
    downstream consumer pay array decode — 3.1s → 6.8s at sf0.1.)"""
    from ..operators.ranking import global_row_number_lazy

    d = (
        tbl(spark, sf_dir, "documents", spread="doc_id")
        .filter(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.array_distinct(
                F.filter(
                    F.split(F.lower("text"), r"\s+"), lambda x: x != ""
                )
            ).alias("toks"),
        )
    )
    # ONLY d and the final per-doc table are materialized (lazy
    # localCheckpoints: the vocabulary side and the main side share
    # the tokenize pass, and blocks free with the plan per the r2
    # persist-leak lesson).  Everything downstream stays plain shuffle
    # joins so AQE keeps REAL runtime stats — the earlier variant that
    # also checkpointed the prefix table erased them (ExistingRDD
    # advertises no sizes) and needed a broadcast/repartition hint per
    # join to stay parallel, ending up slower than this shape at every
    # SF probed.
    d = d.transform(shared_plan)
    dt = d.select("doc_id", F.explode("toks").alias("tok"))
    freq = dt.groupBy("tok").agg(F.count("*").alias("f"))
    # Adaptive verification tier, chosen INSIDE the plan (round-6
    # rule: query construction launches ZERO Spark jobs): when the
    # corpus vocabulary fits ONE 64-bit bitset word, each doc's token
    # set becomes a single LONG and exact intersection is
    # bit_count(a & b) — one codegen'd AND+popcount per candidate;
    # larger vocabularies verify by array_intersect on the candidate
    # set.  The tier gate is the corpus-global vocabulary total,
    # computed LAZILY by the same zero-action distributed rank that
    # assigns bit positions (global_row_number_lazy's total_col: a
    # ≤64-bucket aggregate subtree joined back into the token pass —
    # never a driver count), so BOTH tiers live in one static plan and
    # the untaken branch costs a null column through two hash joins.
    # Both tiers are EXACT — the all-pairs oracle proves the bitmap
    # algebra, not just the pruning.
    freq = global_row_number_lazy(
        freq,
        ["tok"],
        # any total order yields a valid bit-position bijection; a
        # hash-prefix bucket keeps the rank fully distributed (fixed
        # 64-way fan-out — independent of the tier threshold)
        bucket=F.pmod(F.xxhash64("tok"), F.lit(64)),
        rn_col="__rk",
        total_col="__vn",
        broadcast_offsets=False,  # keeps the checkpoint's .rdd pure
    ).select(
        "tok",
        "f",
        (F.col("__rk") - 1).cast("int").alias("tid"),
        F.col("__vn").alias("vn"),
    )
    small = F.col("vn") <= _BITMAP_VOCAB_MAX
    # Rarity-sorted token IDS, not strings (r9 verdict item 5): the
    # prefix equi-join and the general-tier array_intersect only need
    # token IDENTITY, and tid is a bijection of tok (the same lazy
    # rank that assigns bit positions), so every downstream shuffle
    # carries 4-byte ints instead of word strings and the intersect
    # compares ints.  tok stays in the sort struct only to break
    # frequency ties deterministically (same total order as before —
    # the prefix principle holds under ANY shared order, and the
    # emitted pair set is oracle-pinned either way).
    sort_agg = F.transform(
        F.array_sort(F.collect_list(F.struct("f", "tok", "tid"))),
        lambda s: s["tid"],
    ).alias("sorted_tids")
    ordered = (
        dt.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            sort_agg,
            # tids are collected only in the bitmap tier (vn is
            # corpus-global, so per doc it's all or none); rk <= vn
            # <= 64 then guarantees tid < 64 for shiftleft.
            F.collect_list(F.when(small, F.col("tid"))).alias("tids"),
            F.max("vn").alias("vn"),
        )
        # tids are distinct per doc, so the sum of 2^tid IS the OR;
        # NULL in the general tier.
        .withColumn(
            "mask",
            F.when(
                F.col("vn") <= _BITMAP_VOCAB_MAX,
                F.expr(
                    "aggregate(tids, 0L,"
                    " (acc, t) -> acc + shiftleft(1L, t))"
                ),
            ),
        )
    )
    # THREE consumers read `ordered` (prefixes + both verification
    # sides): checkpoint it like `d`, or the post-shuffle per-doc
    # collect_list/array_sort recomputes per reference (review catch —
    # exchange reuse shares only the map side).
    return ordered.transform(shared_plan)


@query(
    "dedup_prefix_filter_join",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS toks
      FROM documents WHERE doc_id % 3 = 0
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.toks, b.toks)) AS inter,
             len(a.toks) AS na, len(b.toks) AS nb
      FROM d a JOIN d b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           inter::DOUBLE / (na + nb - inter) AS jaccard
    FROM pairs
    WHERE inter::DOUBLE / (na + nb - inter) >= {PREFIX_TAU}
    """,
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (the PPJoin family —
    Chaudhuri, Ganti & Kaushik, ICDE 2006; Xiao et al., WWW 2008):
    token-set Jaccard ≥ τ over word sets, with candidates generated
    only from each document's PREFIX — the first
    ``n − ⌈τ·n⌉ + 1`` tokens under a global rarity order.  The prefix
    principle guarantees any pair with Jaccard ≥ τ shares at least one
    prefix token under ANY shared total order, so the pruning is
    LOSSLESS — which is exactly what the all-pairs oracle proves
    (identical pair set + scores, not an approximation).

    Plan: one vocabulary-sized frequency aggregation, a per-doc sort of
    its own tokens (row-local), a prefix-token equi-join for candidates
    (rare-first ordering keeps posting lists short — the whole point),
    then exact verification on the candidate set.  Contrast with
    dedup_minhash_lsh (probabilistic recall) and dedup_ngram_jaccard
    (hot-shingle cap): this one is exact AND sub-quadratic on
    realistic token-frequency skew."""
    ordered = _ppjoin_ordered_frame(spark, sf_dir)
    n = F.size("sorted_tids")
    prefix_len = (n - F.ceil(n * F.lit(PREFIX_TAU)) + 1).cast("int")
    # ``pmask`` (bitmap tier only): the OR of the PREFIX tokens' bits —
    # the device that lets the bitmap tier dedupe AT GENERATION (r10
    # optimization): a qualifying pair appears once per shared prefix
    # token (measured multiplicity 9.1x at sf1 — 721M candidate rows
    # shuffled into a 79.2M-pair distinct, 2.2k executor-seconds in
    # that one stage), but pmask_a & pmask_b is the shared-prefix-token
    # SET, computable per join row, so keeping only the row whose tok
    # is the LEAST shared bit emits every pair exactly once and the
    # candidate exchange + distinct disappear from this tier entirely.
    prefixes = ordered.withColumn(
        "__pt", F.slice("sorted_tids", 1, prefix_len)
    ).select(
        "doc_id",
        n.alias("n"),
        "mask",
        F.when(
            F.col("mask").isNotNull(),
            F.expr("aggregate(__pt, 0L, (acc, t) -> acc + shiftleft(1L, t))"),
        ).alias("pmask"),
        F.explode("__pt").alias("tok"),
    )
    # The two tiers now JOIN separately (tier-filtered prefix sides):
    # vn is corpus-global, so at execution exactly one side has rows
    # and AQE's empty-relation propagation eliminates the other tier's
    # joins once its prefix exchange materializes empty — the same
    # device the old post-distinct split relied on, moved up to the
    # join so the bitmap tier never pays the pair exchange at all.
    #
    # length filter (PPJoin): Jaccard >= tau forces min(|x|,|y|) >=
    # tau * max(|x|,|y|) — applied INSIDE the candidate join so skewed
    # posting lists shed size-incompatible pairs immediately.
    # Lossless like the prefix filter; the oracle pins both.
    _len_ok = F.least(F.col("pa.n"), F.col("pb.n")) >= F.lit(
        PREFIX_TAU
    ) * F.greatest(F.col("pa.n"), F.col("pb.n"))
    bp = prefixes.filter(F.col("mask").isNotNull())
    shared_pref = F.col("pa.pmask").bitwiseAND(F.col("pb.pmask"))
    # "tok is the least shared prefix token" == no shared bit strictly
    # below tok.  The below-mask shiftleft(1L, tok) - 1 would overflow
    # (ANSI) at tok = 63, so that one bit position gets a literal.
    below_mask = F.when(
        F.col("tok") == 63, F.lit(0x7FFFFFFFFFFFFFFF).cast("long")
    ).otherwise(F.expr("shiftleft(1L, tok) - 1L"))
    inter_bm = F.bit_count(F.col("pa.mask").bitwiseAND(F.col("pb.mask")))
    jac_bm = inter_bm.cast("double") / (
        F.col("pa.n") + F.col("pb.n") - inter_bm
    ).cast("double")
    # Every surviving row is a distinct qualifying pair: the least-bit
    # test keeps exactly one of a pair's k generating rows (each row
    # sees the same pmask pair, hence the same least bit), and a TRUE
    # pair always shares >= 1 prefix token (the prefix principle), so
    # no pair is lost.  popcount-exact scoring as before.
    bm = (
        bp.alias("pa")
        .join(bp.alias("pb"), "tok")
        .filter(
            (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & _len_ok
            & (shared_pref.bitwiseAND(below_mask) == 0)
            & (jac_bm >= PREFIX_TAU)
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
            jac_bm.alias("jaccard"),
        )
    )
    # General tier (vocabulary > one bitset word): candidate pairs via
    # the same prefix join, deduped by an explicit exchange + distinct,
    # then exact array_intersect verification — unchanged shape.
    gp = prefixes.filter(F.col("mask").isNull()).select("doc_id", "n", "tok")
    pair = (
        gp.alias("pa")
        .join(gp.alias("pb"), "tok")
        .filter((F.col("pa.doc_id") < F.col("pb.doc_id")) & _len_ok)
    )
    cand = (
        pair.select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
            F.col("pa.n").alias("na"),
            F.col("pb.n").alias("nb"),
        )
        # spread the candidate set by WORK before the per-pair set
        # intersects: candidate rows are ~32 bytes but each downstream
        # general-tier row costs an array_intersect over two token
        # sets, so AQE's byte-sized coalescing can pack the dedup +
        # verification into one task (observed 13s single-task at
        # sf0.1 on a 64-token corpus forced down this tier).  A
        # user-numbered repartition is never coalesced and satisfies
        # the distinct's distribution.
        .repartition(
            pair.sparkSession.sparkContext.defaultParallelism,
            "doc_a",
            "doc_b",
        )
        # na/nb are functions of the pair, so this distinct has
        # exactly pair cardinality
        .distinct()
    )
    dv = ordered.select(
        "doc_id",
        F.when(
            F.col("vn") > _BITMAP_VOCAB_MAX, F.col("sorted_tids")
        ).alias("vtoks"),
    )
    a = dv.select(F.col("doc_id").alias("doc_a"), F.col("vtoks").alias("ta"))
    b = dv.select(F.col("doc_id").alias("doc_b"), F.col("vtoks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.col("na") + F.col("nb") - inter
    gen = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= PREFIX_TAU)
    )
    return bm.unionByName(gen)


# --- directed containment near-dup (sub-document duplication) -----------------------
CONTAIN_TAU = 0.8


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    df AS (
      SELECT sh FROM shingles GROUP BY sh HAVING COUNT(*) <= {MAX_DOC_FREQ}
    ),
    filtered AS (SELECT s.* FROM shingles s JOIN df USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM filtered a JOIN filtered b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           common / sa.n AS contain_a,
           common / sb.n AS contain_b
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE common / sa.n >= {CONTAIN_TAU} OR common / sb.n >= {CONTAIN_TAU}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED containment near-dup: C(A→B) = |A∩B| / |A| over 3-gram
    shingle sets, flagging pairs where either document is ≥ τ
    contained in the other — the asymmetric relation Jaccard misses
    (a paragraph quoted inside a much longer page scores near-zero
    Jaccard but containment ≈ 1), the primitive behind quote/subset
    dedup in corpus cleaning.

    Plan: identical candidate shape to dedup_ngram_jaccard (bounded
    member lists per shingle → row-local pair expansion → pair-count
    agg → broadcast size joins); both containment directions come from
    the one shared-count aggregation.  The stop-shingle cap bounds the
    hottest posting list exactly as the oracle does."""
    arrays = _shingle_arrays(spark, sf_dir).transform(shared_plan)
    sh = arrays.select("doc_id", F.explode("shs").alias("sh"))
    sizes = arrays.select("doc_id", F.size("shs").alias("n"))
    members = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= MAX_DOC_FREQ))
    )
    pairs = _unpack_pairs(
        _packed_pairs_from_members(members)
        .groupBy("pk")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    ca = F.col("common") / F.col("sa.n")
    cb = F.col("common") / F.col("sb.n")
    return (
        pairs.join(F.broadcast(sa), F.col("doc_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_b") == F.col("sb.doc_id"))
        .filter((ca >= CONTAIN_TAU) | (cb >= CONTAIN_TAU))
        .select(
            "doc_a",
            "doc_b",
            ca.alias("contain_a"),
            cb.alias("contain_b"),
        )
    )


# --- LSH quality evaluation: candidates vs exact-Jaccard ground truth ----------------
@query(
    "dedup_lsh_quality",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_MINHASH_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY 1),
    inter AS (
      SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS i
      FROM shingles s1
      JOIN shingles s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      -- Jaccard >= 1/2  <=>  3*|inter| >= |A| + |B|  (integer algebra)
      SELECT a, b FROM inter
      JOIN sizes za ON za.doc_id = a
      JOIN sizes zb ON zb.doc_id = b
      WHERE 3 * i >= za.sz + zb.sz
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
      FROM bands b1
      JOIN bands b2 ON b1.band = b2.band AND b1.bucket = b2.bucket
                    AND b1.doc_id < b2.doc_id
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM truth t JOIN cand c ON c.a = t.a AND c.b = t.b) AS tp,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM truth t LEFT JOIN cand c ON c.a = t.a AND c.b = t.b
       WHERE c.a IS NULL) AS fn,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM cand c LEFT JOIN truth t ON t.a = c.a AND t.b = c.b
       WHERE t.a IS NULL) AS fp
    """,
)
def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the MinHash-LSH tier instead of trusting it: exact
    TP/FN/FP of the banded candidate pairs against exact-Jaccard≥1/2
    ground truth (3·|∩| ≥ |A|+|B| — integer algebra, no float
    similarity).  FN are true near-dups the bands missed (the recall
    gap); FP are candidates exact rescoring later drops (wasted
    verification work, not wrong output).

    The ground truth is built from the shared-shingle equi-join —
    LOSSLESS for τ ≥ 1/2 (such a pair shares at least one shingle) but
    candidate-quadratic, so it is the GATE-SF evaluation path; at
    corpus scale the same truth comes from the PPJoin prefix-filter
    tier (dedup_prefix_filter_join), which is sub-quadratic and
    oracle-proven lossless."""
    truth = _jaccard_half_truth(spark, sf_dir)
    bands = _band_rows(_minhash_sigs(spark, sf_dir))
    b1 = bands.alias("b1")
    b2 = bands.alias("b2")
    cand = (
        b1.join(
            b2,
            (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.bucket") == F.col("b2.bucket"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("a"), F.col("b2.doc_id").alias("b")
        )
        .distinct()
    )
    return _lsh_quality_frame(truth, cand)


def _lsh_quality_frame(truth: DataFrame, cand: DataFrame) -> DataFrame:
    """(n_truth, n_candidates, tp, fn, fp) as ONE lazy plan: full-outer
    join the truth and candidate pair sets on (a, b) with membership
    markers, then one aggregate — no driver count actions (the r8 form
    ran three counts + createDataFrame at construction; r9 purity
    root-cause), no cross join (the dedup plan-audit guard forbids
    BNL/cartesian shapes), and one job instead of three at action
    time."""
    t = truth.withColumn("in_t", F.lit(1))
    c = cand.withColumn("in_c", F.lit(1))
    return (
        t.join(c, ["a", "b"], "full_outer")
        .agg(
            F.coalesce(F.sum("in_t"), F.lit(0)).alias("n_truth"),
            F.coalesce(F.sum("in_c"), F.lit(0)).alias("n_candidates"),
            F.coalesce(F.sum(F.col("in_t") * F.col("in_c")), F.lit(0)).alias(
                "tp"
            ),
        )
        .select(
            "n_truth",
            "n_candidates",
            "tp",
            (F.col("n_truth") - F.col("tp")).alias("fn"),
            (F.col("n_candidates") - F.col("tp")).alias("fp"),
        )
    )


def _jaccard_half_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard ≥ 1/2 ground-truth pairs via the shared-shingle
    equi-join (3·|∩| ≥ |A|+|B| integer algebra) — shared by both LSH
    quality gates so the two operating points are judged against the
    SAME truth."""
    shingles = _shingles(spark, sf_dir)
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    s1 = shingles.alias("s1")
    s2 = shingles.alias("s2")
    inter = (
        s1.join(
            s2,
            (F.col("s1.sh") == F.col("s2.sh"))
            & (F.col("s1.doc_id") < F.col("s2.doc_id")),
        )
        .groupBy(
            F.col("s1.doc_id").alias("a"), F.col("s2.doc_id").alias("b")
        )
        .agg(F.count("*").alias("i"))
    )
    za = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    zb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(F.broadcast(za), "a")
        .join(F.broadcast(zb), "b")
        .filter(3 * F.col("i") >= F.col("sza") + F.col("szb"))
        .select("a", "b")
    )


_TRUTH_SQL = """
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY 1),
    inter AS (
      SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS i
      FROM shingles s1
      JOIN shingles s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT a, b FROM inter
      JOIN sizes za ON za.doc_id = a
      JOIN sizes zb ON zb.doc_id = b
      WHERE 3 * i >= za.sz + zb.sz
    )
"""


@query(
    "dedup_lsh_quality_hi",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_minhash_sql(16, 2)},
    {_TRUTH_SQL},
    cand AS (
      SELECT DISTINCT b1.doc_id AS a, b2.doc_id AS b
      FROM bands b1
      JOIN bands b2 ON b1.band = b2.band AND b1.bucket = b2.bucket
                    AND b1.doc_id < b2.doc_id
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM truth t JOIN cand c ON c.a = t.a AND c.b = t.b) AS tp,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM truth t LEFT JOIN cand c ON c.a = t.a AND c.b = t.b
       WHERE c.a IS NULL) AS fn,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM cand c LEFT JOIN truth t ON t.a = c.a AND t.b = c.b
       WHERE t.a IS NULL) AS fp
    """,
)
def dedup_lsh_quality_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND MinHash-LSH operating point (16 permutations, 8 bands
    × 2 rows), hash-checked against the same exact-Jaccard≥1/2 truth as
    dedup_lsh_quality.  Doubling the bands at constant rows-per-band
    raises the S-curve recall at every similarity level (candidate
    probability 1−(1−s²)^8 vs 1−(1−s²)^4) at the cost of 2× band rows
    and more FP candidates — the knob a 100 TB corpus tunes; both
    points being oracle-green proves the parameterization is wired
    through sketch, banding, and SQL mirror identically."""
    truth = _jaccard_half_truth(spark, sf_dir)
    bands = _band_rows(_minhash_sigs(spark, sf_dir, n_perm=16), n_bands=8, rows=2)
    b1 = bands.alias("b1")
    b2 = bands.alias("b2")
    cand = (
        b1.join(
            b2,
            (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.bucket") == F.col("b2.bucket"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(F.col("b1.doc_id").alias("a"), F.col("b2.doc_id").alias("b"))
        .distinct()
    )
    return _lsh_quality_frame(truth, cand)


# --- multi-signal dedup panel over the LSH candidates --------------------------------
@query(
    "dedup_signal_panel",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_MINHASH_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM shingles GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM cand c
      JOIN shingles s1 ON s1.doc_id = c.doc_a
      JOIN shingles s2 ON s2.doc_id = c.doc_b AND s2.sh = s1.sh
      GROUP BY 1, 2
    ),
    {_SIMHASH16_SQL}
    SELECT c.doc_a, c.doc_b,
           COALESCE(i.i, 0) AS n_shared,
           za.n AS n_a, zb.n AS n_b,
           CAST(COALESCE(i.i, 0) AS DOUBLE)
             / CAST(za.n + zb.n - COALESCE(i.i, 0) AS DOUBLE) AS jaccard,
           CAST(COALESCE(i.i, 0) AS DOUBLE)
             / CAST(LEAST(za.n, zb.n) AS DOUBLE) AS containment,
           CAST((SELECT COUNT(*) FROM range(16) r(j)
                 WHERE substr(ha.sig, CAST(j + 1 AS INT), 1)
                    <> substr(hb.sig, CAST(j + 1 AS INT), 1)) AS BIGINT)
             AS simhash_hamming
    FROM cand c
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    JOIN sh16 ha ON ha.doc_id = c.doc_a
    JOIN sh16 hb ON hb.doc_id = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    """,
)
def dedup_signal_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The adjudication view a human (or a threshold policy) reads for
    each near-dup CANDIDATE: exact shingle overlap, Jaccard, containment
    (quote detection), and SimHash Hamming distance — all four signals
    side by side for the LSH candidate pairs, each a composition of
    the registered operators' own building blocks.  Shingle
    intersections are row-local ``array_intersect`` over the per-doc
    arrays (the candidate table never joins the exploded shingle
    stream); similarities are single IEEE divisions of exact ints.
    The per-doc array/signature tables are DOC-cardinality (they carry
    full shingle arrays), so the joins are deliberately NOT
    broadcast-hinted — AQE picks broadcast at gate SF and falls back to
    shuffle joins at corpus scale, where forcing a broadcast of
    node-cardinality payloads would OOM the driver (round-4 ADVICE)."""
    from .components import _lsh_candidate_pairs

    cand = _lsh_candidate_pairs(spark, sf_dir).toDF("doc_a", "doc_b")
    arrays = _shingle_arrays(spark, sf_dir)
    aa = arrays.select(
        F.col("doc_id").alias("doc_a"), F.col("shs").alias("sa")
    )
    ab = arrays.select(
        F.col("doc_id").alias("doc_b"), F.col("shs").alias("sb")
    )
    sig = dedup_simhash(spark, sf_dir)
    ha = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("siga")
    )
    hb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sigb")
    )
    j = (
        cand.join(aa, "doc_a")
        .join(ab, "doc_b")
        .join(ha, "doc_a")
        .join(hb, "doc_b")
    )
    i = F.size(F.array_intersect("sa", "sb")).cast("long")
    na = F.size("sa").cast("long")
    nb = F.size("sb").cast("long")
    hamming = F.aggregate(
        F.sequence(F.lit(0), F.lit(15)),
        F.lit(0).cast("long"),
        lambda acc, k: acc
        + (
            F.substring(F.col("siga"), 1, 16).substr(k + 1, F.lit(1))
            != F.substring(F.col("sigb"), 1, 16).substr(k + 1, F.lit(1))
        ).cast("long"),
    )
    return j.select(
        "doc_a",
        "doc_b",
        i.alias("n_shared"),
        na.alias("n_a"),
        nb.alias("n_b"),
        (i.cast("double") / (na + nb - i).cast("double")).alias("jaccard"),
        (i.cast("double") / F.least(na, nb).cast("double")).alias(
            "containment"
        ),
        hamming.alias("simhash_hamming"),
    )


# --- cross-split leakage screen ---------------------------------------------------------
def _split_leakage_oracle() -> str:
    from .pipeline_ops import SPLIT_CASE_SQL

    return f"""
    WITH {_SHINGLES_SQL},
    {_MINHASH_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sigs AS (
      SELECT doc_id, list(mh ORDER BY h) AS sig FROM hashes GROUP BY doc_id
    ),
    splits AS (
      SELECT doc_id, {SPLIT_CASE_SQL} AS split FROM documents
    ),
    scored AS (
      SELECT LEAST(pa.split, pb.split) AS split_a,
             GREATEST(pa.split, pb.split) AS split_b,
             len(list_filter(range({N_HASHES}),
                             i -> sa.sig[i+1] = sb.sig[i+1])) AS agree
      FROM cand
      JOIN sigs sa ON doc_a = sa.doc_id
      JOIN sigs sb ON doc_b = sb.doc_id
      JOIN splits pa ON doc_a = pa.doc_id
      JOIN splits pb ON doc_b = pb.doc_id
    )
    SELECT split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM((2 * agree >= {N_HASHES})::INT) AS BIGINT) AS n_leaky
    FROM scored GROUP BY split_a, split_b
    """


@query("pipeline_split_leakage", oracle=_split_leakage_oracle())
def pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination screen: counts near-duplicate
    candidate pairs (MinHash bands, est. Jaccard >= 0.5) per
    split-pair cell of the deterministic train/val/test assignment —
    the eval-integrity check every LLM data pipeline must run, because
    a random split of a deduplicated-but-not-perfectly corpus leaks
    train near-copies into test and inflates benchmarks.  Off-diagonal
    cells (train/test, train/val, val/test) are the leaks; diagonal
    cells are residual intra-split duplication for context.

    Reuses the EXACT band/signature fragments of dedup_minhash_lsh and
    the split rule of pipeline_dataset_split_hash (shared constants —
    neither can drift from its operator), so candidates come from the
    banded bucket join, never an all-pairs comparison; the split tag
    joins on doc_id.  The leak verdict 2·agree >= n_perm is an integer
    cross-product."""
    from .pipeline_ops import split_col

    sigs = _minhash_sigs(spark, sf_dir)  # session-shared persisted frame
    band_rows = _band_rows(sigs)
    members = (
        band_rows.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    # no pair packing here: the distinct's partial aggregate already
    # collapses the pairs map-side, so a packed key saves nothing and
    # its guard+pack projection only adds cost; the COUNT aggregations
    # below keep the pack.
    cand = _pairs_from_members(members).distinct()
    splits = tbl(spark, sf_dir, "documents").select(
        "doc_id", split_col().alias("split")
    )
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    pa = splits.select(
        F.col("doc_id").alias("pa_id"), F.col("split").alias("sp_a")
    )
    pb = splits.select(
        F.col("doc_id").alias("pb_id"), F.col("split").alias("sp_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sa.sig"), F.col("sb.sig"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    scored = (
        # sigs and splits are both doc-cardinality — no explicit
        # broadcast hints (the round-4 advice on dedup_signal_panel):
        # AQE picks broadcast at gate SF and hash join at corpus scale;
        # a forced broadcast of full MinHash signatures would exhaust
        # the driver at larger SFs.
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .join(pa, F.col("doc_a") == F.col("pa_id"))
        .join(pb, F.col("doc_b") == F.col("pb_id"))
        .select(
            F.least("sp_a", "sp_b").alias("split_a"),
            F.greatest("sp_a", "sp_b").alias("split_b"),
            agree.alias("agree"),
        )
    )
    return scored.groupBy("split_a", "split_b").agg(
        F.count("*").alias("n_candidates"),
        F.sum((2 * F.col("agree") >= N_HASHES).cast("int"))
        .cast("long")
        .alias("n_leaky"),
    )
