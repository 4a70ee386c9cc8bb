"""Property-based tests (Hypothesis): engine operators vs independent
pure-Python reference implementations on randomized inputs.

Settings are tuned for Spark round-trips (few, larger examples;
deadline off since JVM calls are not constant-time)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


# --- W1 bounded gap fill vs pandas-like reference ------------------------------
@st.composite
def gappy_series(draw):
    n = draw(st.integers(min_value=3, max_value=40))
    vals = draw(
        st.lists(
            st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
            min_size=n,
            max_size=n,
        )
    )
    limit = draw(st.integers(min_value=1, max_value=5))
    return vals, limit


def ref_bounded_fill(vals, limit):
    """ffill(limit) then bfill(limit) on the ORIGINAL nulls, like the
    engine's coalesce(v, ff, bf) form."""
    out = []
    for i, v in enumerate(vals):
        if v is not None:
            out.append(v)
            continue
        filled = None
        for back in range(1, limit + 1):
            if i - back >= 0 and vals[i - back] is not None:
                filled = vals[i - back]
                break
        if filled is None:
            for fwd in range(1, limit + 1):
                if i + fwd < len(vals) and vals[i + fwd] is not None:
                    filled = vals[i + fwd]
                    break
        out.append(filled)
    return out


@SET
@given(gappy_series())
def test_bounded_gap_fill_property(spark, case):
    vals, limit = case
    df = spark.createDataFrame(
        [(i, float(v) if v is not None else None) for i, v in enumerate(vals)],
        "i int, v double",
    )
    from pyspark.sql import Window

    w = Window.orderBy("i")
    ff = F.last("v", ignorenulls=True).over(w.rowsBetween(-limit, 0))
    bf = F.first("v", ignorenulls=True).over(w.rowsBetween(0, limit))
    got = [
        r["filled"]
        for r in df.select("i", F.coalesce("v", ff, bf).alias("filled"))
        .orderBy("i")
        .collect()
    ]
    want = [float(v) if v is not None else None for v in ref_bounded_fill(vals, limit)]
    assert got == want


# --- Jaccard dedup vs set math -------------------------------------------------
@SET
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_ngram_jaccard_property(spark, docs):
    texts = [" ".join(d) for d in docs]

    def shingles(words):
        return {tuple(words[i : i + 3]) for i in range(len(words) - 2)}

    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = shingles(docs[i]), shingles(docs[j])
            if not a or not b:
                continue
            inter = len(a & b)
            if inter:
                expected[(i, j)] = inter / len(a | b)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    df.createOrReplaceTempView("__docs")
    # reuse the query machinery on an in-memory table by monkey-shingling
    from energy_consumption_forecasting_spark.queries.dedup import (
        _pairs_from_members,
    )

    toks = df.select(
        "doc_id", F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("a")
    ).filter(F.size("a") >= 3)
    idx = F.sequence(F.lit(1), F.size("a") - 2)
    sh_arr = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at("a", i),
            F.element_at("a", i + 1),
            F.element_at("a", i + 2),
        ),
    )
    arrays = toks.select("doc_id", F.array_distinct(sh_arr).alias("shs"))
    sh = arrays.select("doc_id", F.explode("shs").alias("sh"))
    sizes = arrays.select("doc_id", F.size("shs").alias("n"))
    members = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    pairs = (
        _pairs_from_members(members)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("common") / (F.col("sa.n") + F.col("sb.n") - F.col("common"))
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k])


# --- sessionization vs linear scan ------------------------------------------------
@SET
@given(
    st.lists(st.integers(min_value=1, max_value=120), min_size=1, max_size=30)
)
def test_sessionize_property(spark, gaps_minutes):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    times = []
    for g in gaps_minutes:
        t = t + dt.timedelta(minutes=g)
        times.append(t)
    # reference: new session when gap > 30 min
    want_sessions = 1 + sum(1 for g in gaps_minutes[1:] if g > 30)

    df = spark.createDataFrame(
        [(i, 1, ts) for i, ts in enumerate(times)],
        "event_id long, user_id long, ts timestamp",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    marked = df.select(
        "user_id",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0).alias("ns"),
    )
    got = marked.agg(F.sum("ns")).first()[0]
    assert got == want_sessions


# --- exact-decimal mean == python mean -------------------------------------------
@SET
@given(
    st.lists(
        st.decimals(
            min_value=-1000, max_value=1000, places=2, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=50,
    )
)
def test_exact_avg_property(spark, decs):
    vals = [float(d) for d in decs]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(
        (F.sum(F.col("x").cast("decimal(18,2)")).cast("double") / F.count("*")).alias(
            "m"
        )
    ).first()["m"]
    # python exact: sum of scaled ints
    want = float(sum(int(round(v * 100)) for v in vals)) / 100 / len(vals)
    assert math.isclose(got, want, rel_tol=0, abs_tol=0)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(-1000, 1000)),
        min_size=1,
        max_size=300,
    )
)
def test_two_pass_rank_property(spark, rows):
    """operators/ranking.global_row_number must equal a single-partition
    orderBy rank on any data — including heavy ties and skew — and
    lag_by_rank must equal F.lag over the same total order."""
    from pyspark.sql import Window

    from energy_consumption_forecasting_spark.operators.ranking import (
        global_row_number,
        lag_by_rank,
    )

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "uid long, k long, v long"
    ).repartition(7)
    ranked, total = global_row_number(df, ["k", "uid"], rn_col="rn")
    assert total == len(rows)
    got = [(r.k, r.uid) for r in ranked.orderBy("rn").collect()]
    assert got == sorted((k, i) for i, (k, _) in enumerate(rows))
    rns = sorted(r.rn for r in ranked.collect())
    assert rns == list(range(1, len(rows) + 1))

    lagged = lag_by_rank(ranked, "rn", "v", [1])
    w = Window.orderBy("k", "uid")
    expect = {
        (r.k, r.uid): r.lv
        for r in df.withColumn("lv", F.lag("v").over(w)).collect()
        if r.lv is not None
    }
    got_l = {(r.k, r.uid): r.lag_1 for r in lagged.collect()}
    assert got_l == expect


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 1000)),
        min_size=1,
        max_size=300,
    )
)
def test_global_prefix_sum_property(spark, rows):
    """operators/ranking.global_prefix_sum_lazy must equal a Python
    running sum over the same total order, on any data (ties, skew)."""
    from energy_consumption_forecasting_spark.operators.ranking import (
        global_prefix_sum_lazy,
    )

    df = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "uid long, k long, v long"
    ).repartition(7)
    summed = global_prefix_sum_lazy(
        df,
        ["k", "uid"],
        ["v"],
        bucket=F.expr("k div 8"),
        cum_cols=["cum"],
        total_col="total",
    ).collect()
    assert {r.total for r in summed} == {sum(v for _, v in rows)}
    got = {(r.k, r.uid): r.cum for r in summed}
    acc = 0
    for i, (k, v) in sorted(enumerate(rows), key=lambda t: (t[1][0], t[0])):
        acc += v
        assert got[(k, i)] == acc


def test_bucket_rank_matches_range_rank(spark):
    """The monotone-bucket lazy path produces the identical global rank
    as the generic range-shuffle path, and its prefix sum equals a
    Python running sum."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.ranking import (
        global_prefix_sum_lazy,
        global_row_number,
        global_row_number_lazy,
    )

    # k must be UNIQUE: 37 is invertible mod the prime 5003 and
    # id < 5000 < 5003, so the mapping is injective — a duplicate k
    # would make the inclusive prefix sum order-nondeterministic at the
    # tie and the comparison flaky.
    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 5003).alias("k"),
        (F.col("id") % 13).cast("long").alias("v"),
    )
    base, n0 = global_row_number(df, ["k"], rn_col="rn")
    fast = global_row_number_lazy(
        df, ["k"], bucket=F.expr("k div 256"), rn_col="rn", total_col="n"
    )
    assert n0 == 5000
    assert {r.n for r in fast.select("n").distinct().collect()} == {5000}
    assert (
        base.select("k", "rn")
        .exceptAll(fast.select("k", "rn"))
        .count()
        == 0
    )

    c1 = global_prefix_sum_lazy(
        df,
        ["k"],
        ["v"],
        bucket=F.expr("k div 256"),
        cum_cols=["c"],
        total_col="t",
    ).collect()
    want, acc = {}, 0
    for i in sorted(range(5000), key=lambda i: i * 37 % 5003):
        acc += i % 13
        want[i * 37 % 5003] = acc
    assert {r.k: r.c for r in c1} == want
    assert {r.t for r in c1} == {acc}


def test_lazy_bucket_rank_matches_eager(spark):
    """global_row_number_lazy == the generic two-pass rank and a
    single-partition ``orderBy`` rank, and the total column equals the
    counted total."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.ranking import (
        global_row_number,
        global_row_number_lazy,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 5003).alias("k"),
    )
    eager, n = global_row_number(df, ["k"], rn_col="rn")
    lazy = global_row_number_lazy(
        df, ["k"], bucket=F.expr("k div 256"), rn_col="rn", total_col="nt"
    )
    assert (
        eager.select("k", "rn").exceptAll(lazy.select("k", "rn")).count() == 0
    )
    single = df.select("k", F.row_number().over(Window.orderBy("k")).alias("rn"))
    assert single.exceptAll(lazy.select("k", "rn")).count() == 0
    totals = lazy.select("nt").distinct().collect()
    assert len(totals) == 1 and totals[0].nt == n == 5000


def test_lazy_bucket_rank_raises_on_null_bucket(spark):
    """The lazy path has no construction-time action, so the NULL-bucket
    guard must fire at execution time via raise_error."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from energy_consumption_forecasting_spark.operators.ranking import (
        global_row_number_lazy,
    )

    df = spark.range(0, 100).select(
        F.when(F.col("id") == 50, None)
        .otherwise(F.col("id"))
        .cast("long")
        .alias("k")
    )
    out = global_row_number_lazy(df, ["k"], bucket=F.expr("k div 16"))
    with pytest.raises(Exception, match="bucket expression produced NULL"):
        out.collect()


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 400), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 4),
    st.randoms(),
)
def test_source_cap_semilattice_fold(spark, rows, n_batches, rnd):
    """Folding random batch splits in random order through the min-k
    merge equals the one-shot top-k — the semilattice property the
    streaming op depends on (associative, commutative, idempotent)."""
    from energy_consumption_forecasting_spark.streaming.source_cap_stream import (
        SOURCE_CAP,
        _batch_topk,
        _merge,
    )

    def mk(rs):
        return spark.createDataFrame(
            [(i, s, f"text {i}") for i, s in rs],
            "doc_id long, source string, text string",
        )

    whole = _batch_topk(mk(rows)).collect()
    ref = {r.source: list(r.ks) for r in whole}

    shuffled = list(rows)
    rnd.shuffle(shuffled)
    chunks = [shuffled[i::n_batches] for i in range(n_batches)]
    chunks = [c for c in chunks if c]
    state = None
    for c in chunks:
        state = _merge(state, _batch_topk(mk(c)))
    # idempotence: re-fold one chunk again, result must not change
    state = _merge(state, _batch_topk(mk(chunks[0])))
    got = {r.source: list(r.ks) for r in state.collect()}
    assert got == ref
    for ks in got.values():
        assert len(ks) <= SOURCE_CAP and ks == sorted(ks)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=2, max_size=12),
    st.sampled_from([("a", "b"), ("a", "a"), ("b", "a"), ("c", "c")]),
)
def test_bpe_merge_fold_tiers_agree(spark, syms, pair):
    """The Catalyst armed-fold (_merge_pair) and the driver-tier loop
    (_apply_merge_local) implement the identical left-to-right
    non-overlapping merge — including left==right and interleaved
    overlap cases."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.bpe import (
        _apply_merge_local,
        _merge_pair,
    )

    a, b = pair
    expected = _apply_merge_local(list(syms), a, b)
    got = (
        spark.range(1)
        .select(
            _merge_pair(
                F.array(*[F.lit(s) for s in syms]), a, b
            ).alias("m")
        )
        .collect()[0]["m"]
    )
    assert list(got) == expected, f"{syms} merge {pair}"


# --- streaming Markov seal logic vs batch truth (pure Python, no Spark) --------
class _FakeState:
    """Minimal GroupState stand-in for driving _update directly."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self._wm_ms = 0

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def getCurrentWatermarkMs(self):
        return self._wm_ms


@given(
    st.lists(  # events: (ts_us, type_idx) per user-less stream
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=0,
        max_size=60,
    ),
    st.lists(st.integers(min_value=1, max_value=10), min_size=1, max_size=6),
    st.integers(min_value=0, max_value=5),
)
@settings(max_examples=200, deadline=None)
def test_markov_update_seal_equals_batch(events, cut_sizes, delay):
    """Any split of a ts-ordered event stream into micro-batches, with
    the watermark advancing to (max ts seen so far − delay) after each
    batch, must yield sealed+tail counts equal to the batch lag-window
    truth — the invariant the oracle gate asserts at one split."""
    import pandas as pd

    from energy_consumption_forecasting_spark.streaming.markov_stream import (
        _update,
    )

    # unique ids; arrival in event-time order (the file-source scenario)
    evs = [
        (ts * 1_000_000, i, f"t{tp}")
        for i, (ts, tp) in enumerate(sorted(events))
    ]
    truth = {}
    for a, b in zip(evs, evs[1:]):
        k = (a[2], b[2])
        truth[k] = truth.get(k, 0) + 1

    state = _FakeState()
    pos, ci, max_ts_us = 0, 0, None
    emitted = {}
    while pos < len(evs):
        batch = evs[pos : pos + cut_sizes[ci % len(cut_sizes)]]
        pos += len(batch)
        ci += 1
        # watermark available DURING a batch = max event time of PRIOR
        # batches minus the delay (Spark updates it between batches)
        state._wm_ms = (
            0
            if max_ts_us is None
            else max(0, max_ts_us // 1000 - delay * 1000)
        )
        pdf = pd.DataFrame(
            {
                "ts_us": [e[0] for e in batch],
                "event_id": [e[1] for e in batch],
                "event_type": [e[2] for e in batch],
            }
        )
        for out in _update((7,), iter([pdf]), state):
            for _, r in out.iterrows():
                emitted[(r["prev_type"], r["next_type"])] = int(r["n"])
        max_ts_us = max(
            [e[0] for e in batch] + ([max_ts_us] if max_ts_us else [])
        )

    # tail: transitions among (stitch point + unsealed buffer), the
    # DataFrame lag the statestore reader path computes
    got = dict(emitted)
    if state.exists:
        buf_ts, buf_ids, buf_tp, l_ts, l_id, l_tp, *_ = state.get
        seq = ([(l_ts, l_id, l_tp)] if l_tp is not None else []) + sorted(
            zip(buf_ts, buf_ids, buf_tp)
        )
        for a, b in zip(seq, seq[1:]):
            k = (a[2], b[2])
            got[k] = got.get(k, 0) + 1
    assert got == truth


# --- basket pair explode vs brute-force combinations ----------------------------
_BASKET_LINES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),   # basket id
        st.integers(min_value=0, max_value=15),  # item
    ),
    min_size=0,
    max_size=50,
)


def _basket_pair_ref(lines):
    """Brute-force per-basket item-pair counts, with no minsup filter; a
    line with a null basket id or item joins no basket."""
    from itertools import combinations

    ref = {}
    baskets = {}
    for b, it in lines:
        if b is not None and it is not None:
            baskets.setdefault(b, set()).add(it)
    for items in baskets.values():
        for p1, p2 in combinations(sorted(items), 2):
            ref[(p1, p2)] = ref.get((p1, p2), 0) + 1
    return ref


@given(_BASKET_LINES)
@SET
def test_basket_pair_explode_property(spark, lines):
    """The row-local array pair explode in queries/basket.py must equal
    brute-force per-basket combinations (incl. duplicate lines, empty
    and singleton baskets) with NO minsup filtering applied."""
    import pyspark.sql.functions as F

    ref = _basket_pair_ref(lines)
    df = spark.createDataFrame(
        lines or [(0, 0)], "l_orderkey long, l_partkey long"
    )
    if not lines:
        df = df.limit(0)
    from energy_consumption_forecasting_spark.queries.basket import basket_pairs

    arr = F.array_sort(F.collect_set("l_partkey")).alias("arr")
    b = df.groupBy("l_orderkey").agg(arr)
    got = {
        (r["p1"], r["p2"]): r["n"]
        for r in basket_pairs(b)
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == ref


@given(_BASKET_LINES, st.booleans(), st.integers(min_value=1, max_value=8))
@settings(max_examples=200, deadline=None)
def test_count_pairs_np_property(lines, line_prune, chunk):
    """The single-task tier's numpy kernel, counting in chunks of 1-8
    pairs (so baskets split across chunks), equals the brute-force
    reference with the minsup filter, under either a-priori prune."""
    import numpy as np

    from energy_consumption_forecasting_spark.queries.basket import (
        _MINSUP,
        count_pairs_np,
    )

    want = {k: n for k, n in _basket_pair_ref(lines).items() if n >= _MINSUP}
    orders = np.array([b for b, _ in lines], dtype=np.int64)
    parts = np.array([it for _, it in lines], dtype=np.int64)
    p1, p2, n = count_pairs_np(orders, parts, line_prune, chunk)
    assert dict(zip(zip(p1.tolist(), p2.tolist()), n.tolist())) == want


def _sometimes_null(hi):
    return st.integers(min_value=-1, max_value=hi).map(lambda v: None if v < 0 else v)


@given(
    st.lists(
        st.tuples(_sometimes_null(9), _sometimes_null(15)), min_size=0, max_size=50
    )
)
@SET
def test_basket_pair_count_tiers_property(spark, lines):
    """pair_counts_from_lines on both tiers (budget pinned one byte
    inside and at the single-task rule) equals the brute-force
    reference with the minsup filter, null keys included."""
    from energy_consumption_forecasting_spark.queries.basket import _MINSUP
    from tests.conftest import lines_frame, pair_counts_both_tiers

    want = {k: n for k, n in _basket_pair_ref(lines).items() if n >= _MINSUP}
    for out in pair_counts_both_tiers(spark, lines_frame(spark, lines), len(lines)):
        assert {(r["p1"], r["p2"]): r["n"] for r in out.collect()} == want


# --- gaps-and-islands ops vs pure-python references ------------------------------
@st.composite
def user_days(draw):
    n_users = draw(st.integers(min_value=1, max_value=4))
    out = []
    for u in range(n_users):
        days = draw(
            st.lists(
                st.integers(min_value=0, max_value=40),
                min_size=1,
                max_size=25,
            )
        )
        out.extend((u, d) for d in days)
    return out


def ref_streaks(pairs):
    """(user -> (longest, active_days, n_streaks)) by direct scan."""
    byu = {}
    for u, d in pairs:
        byu.setdefault(u, set()).add(d)
    out = {}
    for u, ds in byu.items():
        ds = sorted(ds)
        runs, cur = [], 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        out[u] = (max(runs), len(ds), len(runs))
    return out


@SET
@given(user_days())
def test_streak_islands_matches_reference(spark, pairs):
    from datetime import date, timedelta

    from pyspark.sql import Window

    base = date(2024, 1, 1)
    df = spark.createDataFrame(
        [(u, base + timedelta(days=d)) for u, d in pairs],
        "user_id INT, d DATE",
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        df.withColumn("anchor", F.date_sub(F.col("d"), F.row_number().over(w)))
        .groupBy("user_id", "anchor")
        .agg(F.count("*").alias("len"))
    )
    got = {
        r.user_id: (r.longest, r.active, r.n)
        for r in runs.groupBy("user_id")
        .agg(
            F.max("len").alias("longest"),
            F.sum("len").cast("long").alias("active"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert got == ref_streaks(pairs)


@st.composite
def user_intervals(draw):
    n = draw(st.integers(min_value=1, max_value=30))
    return draw(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=2),
                st.integers(min_value=0, max_value=500),
            ),
            min_size=n,
            max_size=n,
        )
    )


def ref_merge(starts, width):
    """Union of [s, s+width] per the running-max island rule."""
    merged = []
    for s in sorted(set(starts)):
        e = s + width
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e), merged[-1][2] + 1)
        else:
            merged.append((s, e, 1))
    return merged


@SET
@given(user_intervals())
def test_interval_merge_matches_reference(spark, pairs):
    from pyspark.sql import Window

    width = 30
    iv = (
        spark.createDataFrame(pairs, "user_id INT, s_us LONG")
        .distinct()
        .withColumn("e_us", F.col("s_us") + F.lit(width).cast("long"))
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "e_us")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "e_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("s_us")
            > F.coalesce(F.max("e_us").over(wprev), F.lit(-1).cast("long")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    got = (
        flagged.withColumn("island", F.sum("new_island").over(wrun))
        .groupBy("user_id", "island")
        .agg(
            F.min("s_us").alias("ms"),
            F.max("e_us").alias("me"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    by_user_got = {}
    for r in got:
        by_user_got.setdefault(r.user_id, []).append((r.ms, r.me, r.n))
    for u in by_user_got:
        by_user_got[u].sort()
    by_user_ref = {}
    for u in {p[0] for p in pairs}:
        starts = [s for uu, s in pairs if uu == u]
        by_user_ref[u] = ref_merge(starts, width)
    assert by_user_got == by_user_ref


# --- Theil–Sen median-of-slopes vs pure python -----------------------------------
@st.composite
def daily_series(draw):
    n = draw(st.integers(min_value=3, max_value=20))
    vals = draw(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=n,
            max_size=n,
        )
    )
    return vals


@SET
@given(daily_series())
def test_theil_sen_matches_reference(spark, vals):
    import pandas as pd
    from pyspark.sql import Window

    # built from pandas through Arrow (a local relation), so the
    # non-equi self-join needs no Python worker per partition
    idx = spark.createDataFrame(
        pd.DataFrame({"t": range(len(vals)), "vc": vals}, dtype="int64"),
        "t long, vc long",
    )
    a = idx.select(F.col("t").alias("ta"), F.col("vc").alias("va"))
    slopes = idx.join(a, F.col("t") > F.col("ta")).select(
        F.expr("(10000 * (vc - va)) div (t - ta)").alias("s_q4")
    )
    w = Window.orderBy("s_q4")
    ranked = slopes.select(
        "s_q4",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("cnt"),
    )
    got = ranked.filter(F.col("rn") == F.expr("(cnt + 1) div 2")).collect()[0]
    # reference: truncating q4 slopes, lower median
    ref = sorted(
        int((10000 * (vals[j] - vals[i])) / (j - i))
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
    )
    assert got.s_q4 == ref[(len(ref) + 1) // 2 - 1]


# --- KS two-sample vs pure python ------------------------------------------------
@st.composite
def two_samples(draw):
    a = draw(st.lists(st.integers(0, 30), min_size=1, max_size=25))
    b = draw(st.lists(st.integers(0, 30), min_size=1, max_size=25))
    return a, b


@SET
@given(two_samples())
def test_ks_statistic_matches_reference(spark, samples):
    from pyspark.sql import Window

    a, b = samples
    lens = spark.createDataFrame(
        [(v, True) for v in a] + [(v, False) for v in b],
        "l long, is_en boolean",
    )
    per = lens.groupBy("l").agg(
        F.sum(F.col("is_en").cast("int")).cast("long").alias("c_en"),
        F.sum((~F.col("is_en")).cast("int")).cast("long").alias("c_ot"),
    )
    wcum = Window.orderBy("l").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        F.sum("c_en").over(wcum).alias("f1"),
        F.sum("c_ot").over(wcum).alias("f2"),
    )
    n1, n2 = len(a), len(b)
    got = cum.agg(
        F.max(F.abs(F.col("f1") * n2 - F.col("f2") * n1)).alias("m")
    ).collect()[0].m
    # reference ECDF max over all thresholds
    import collections

    ca, cb = collections.Counter(a), collections.Counter(b)
    f1 = f2 = best = 0
    for v in sorted(set(a) | set(b)):
        f1 += ca.get(v, 0)
        f2 += cb.get(v, 0)
        best = max(best, abs(f1 * n2 - f2 * n1))
    assert got == best


def test_global_prefix_sum_lazy_matches_eager_and_guards_nulls(spark):
    """The zero-action lazy prefix sum (round-6) must produce the exact
    running totals of a Python running sum under a monotone bucket,
    launch no jobs at construction, and trip raise_error on NULL
    buckets instead of silently dropping rows."""
    import pytest
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.ranking import (
        global_prefix_sum_lazy,
    )

    vals = [(i * 37) % 101 + 1 for i in range(500)]
    df = spark.createDataFrame(list(enumerate(vals)), "k int, v int")
    want, total = {}, 0
    for k, v in enumerate(vals):
        total += v
        want[k] = total

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    lazy = global_prefix_sum_lazy(
        df,
        ["k"],
        ["v"],
        bucket=F.expr("k div 64"),
        cum_cols=["cum"],
        total_col="tot",
    )
    assert dag.numTotalJobs() == before, "lazy prefix sum ran a job"
    rows = lazy.collect()
    assert {r["k"]: r["cum"] for r in rows} == want
    assert all(r["tot"] == total for r in rows)

    bad = global_prefix_sum_lazy(
        df.withColumn("b", F.when(F.col("k") < 499, F.expr("k div 64"))),
        ["k"],
        ["v"],
        bucket=F.col("b"),
        cum_cols=["cum"],
    )
    with pytest.raises(Exception, match="bucket expression produced NULL"):
        bad.collect()


def test_global_prefix_sums_lazy_matches_chained_singles(spark):
    """One two-value lazy prefix sum (r10 fusion) must equal two
    chained single-value calls value-for-value, and stay zero-job at
    construction."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.ranking import (
        global_prefix_sum_lazy,
    )

    df = spark.createDataFrame(
        [(i, (i * 37) % 101 + 1, (i * 13) % 7) for i in range(500)],
        "k int, v int, w int",
    )
    bkt = F.expr("k div 64")
    chained = global_prefix_sum_lazy(
        global_prefix_sum_lazy(df, ["k"], ["v"], bucket=bkt, cum_cols=["cv"]),
        ["k"],
        ["w"],
        bucket=bkt,
        cum_cols=["cw"],
    )
    want = {r["k"]: (r["cv"], r["cw"]) for r in chained.collect()}

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    fused = global_prefix_sum_lazy(
        df, ["k"], ["v", "w"], bucket=bkt, cum_cols=["cv", "cw"]
    )
    assert dag.numTotalJobs() == before, "fused prefix sums ran a job"
    got = {r["k"]: (r["cv"], r["cw"]) for r in fused.collect()}
    assert got == want


@given(
    st.integers(min_value=1, max_value=400),
    st.integers(min_value=1, max_value=12),
)
@settings(max_examples=25, deadline=None)
def test_ntile_expr_property(spark, n, k):
    """operators/ranking.ntile_expr must equal the window ntile(k) for
    ANY (n, k) — the exact integer algebra behind the distributed
    label_folds path (round-6 cv rework)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.ranking import (
        ntile_expr,
    )

    df = spark.range(1, n + 1).select(
        F.col("id").alias("rn"), F.lit(n).cast("long").alias("nn")
    )
    got = {
        r["rn"]: r["t"]
        for r in df.select(
            "rn", ntile_expr("rn", "nn", k).cast("int").alias("t")
        ).collect()
    }
    want = {
        r["rn"]: r["t"]
        for r in spark.range(1, n + 1)
        .select(
            F.col("id").alias("rn"),
            F.ntile(k).over(Window.orderBy("id")).alias("t"),
        )
        .collect()
    }
    assert got == want


@given(
    st.integers(min_value=1, max_value=300),
    st.integers(min_value=2, max_value=32),
)
@settings(max_examples=15, deadline=None)
def test_global_row_number_lazy_property(spark, n, modk):
    """The zero-action lazy rank must equal the eager two-pass rank for
    ANY size and bucket granularity (monotone bucket k div modk)."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.operators.ranking import (
        global_row_number,
        global_row_number_lazy,
    )

    df = spark.range(n).select((F.col("id") * 13 % 997).alias("k"))
    eager, total = global_row_number(df.distinct(), ["k"], rn_col="rn")
    want = {r["k"]: r["rn"] for r in eager.collect()}
    lazy = global_row_number_lazy(
        df.distinct(), ["k"], bucket=F.expr(f"k div {modk}"), rn_col="rn",
        total_col="nn",
    )
    rows = lazy.collect()
    assert {r["k"]: r["rn"] for r in rows} == want
    assert all(r["nn"] == total for r in rows)


def test_changepoint_degenerate_series_is_empty(spark, monkeypatch):
    """ts_changepoint on a <2-row daily series returns an EMPTY frame
    with the declared schema, mirroring the oracle's LIMIT 1 over zero
    candidate splits (advice r6: the driver loop assumed n >= 2)."""
    from energy_consumption_forecasting_spark.queries import timeseries

    one = spark.createDataFrame(
        [("2024-01-01", 10.0)], "d string, demand double"
    ).select(F.to_date("d").alias("d"), F.col("demand"))

    monkeypatch.setattr(timeseries, "_daily", lambda s, p: one.limit(0))
    empty = timeseries.ts_changepoint(spark, "unused")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "split_d",
        "n_left",
        "n_right",
        "gain_scaled",
    ]

    monkeypatch.setattr(timeseries, "_daily", lambda s, p: one)
    assert timeseries.ts_changepoint(spark, "unused").count() == 0


def test_shared_plan_is_lazy(spark):
    """shared_plan (lazy localCheckpoint under aqe_disabled) launches
    zero jobs at construction — including over an UNMATERIALIZED cache,
    provided the cache was registered with shared_persist: a cache
    registered under AQE compiles an adaptive cached plan whose stages
    execute at any later .rdd construction (measured 1-3 jobs), which
    is exactly the eagerness the purity registry's SHARED class used to
    carry."""
    from energy_consumption_forecasting_spark.queries._util import (
        shared_persist,
        shared_plan,
    )

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    df = (
        spark.range(10000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count("*").alias("c"))
    )
    before = dag.numTotalJobs()
    ck = shared_plan(df)
    assert dag.numTotalJobs() == before, "plain shared_plan ran a job"

    cached = shared_persist(df)
    try:
        before = dag.numTotalJobs()
        shared_plan(cached.select((F.col("c") + 1).alias("c2")))
        shared_plan(cached)
        assert (
            dag.numTotalJobs() == before
        ), "shared_plan over an unmaterialized shared_persist ran a job"
        assert cached.count() == 7
    finally:
        cached.unpersist()
    assert ck.count() == 7


@given(
    st.lists(st.integers(min_value=1, max_value=512), min_size=1, max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_ffd_assign_property(lengths):
    """FFD invariants over random length lists (the pure core the
    Spark packer runs per shard): every item assigned exactly once,
    no bin over capacity, bin count respects the token lower bound,
    and the first-fit guarantee — at most one bin ends under half
    full.  Also pins determinism (same input → same output)."""
    import math

    from energy_consumption_forecasting_spark.queries.pipeline_ops import (
        ffd_assign,
    )

    cap = 512
    ordered = sorted(lengths, reverse=True)
    assign = ffd_assign(ordered, cap)
    assert len(assign) == len(ordered)
    fills: dict[int, int] = {}
    for n, b in zip(ordered, assign):
        fills[b] = fills.get(b, 0) + n
    # bins are opened densely: 0..max
    assert sorted(fills) == list(range(len(fills)))
    assert max(fills.values()) <= cap
    assert len(fills) >= math.ceil(sum(ordered) / cap)
    under_half = sum(1 for v in fills.values() if v < cap / 2)
    assert under_half <= 1
    assert ffd_assign(ordered, cap) == assign


# --- r10 pipelined pair expansion vs brute force ---------------------------------
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=500),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
@SET
def test_pipelined_pairs_property(spark, buckets):
    """_pairs_from_members (the r10 pipelined double-explode) must emit
    EXACTLY the per-bucket (a < b) combination multiset of its sorted
    member arrays for arbitrary bucket shapes — duplicates WITHIN a
    bucket collapse (arrays come from collect_list of distinct ids in
    production, but the helper must still be well-defined), empty and
    singleton buckets contribute nothing, and identical buckets stack
    multiset-wise."""
    from collections import Counter
    from itertools import combinations

    from energy_consumption_forecasting_spark.queries.dedup import (
        _pairs_from_members,
    )

    rows = [(i, sorted(set(b))) for i, b in enumerate(buckets)]
    ref = Counter()
    for _, docs in rows:
        for a, b in combinations(docs, 2):
            ref[(a, b)] += 1
    members = spark.createDataFrame(
        rows, "bucket long, docs array<long>"
    )
    got = Counter(
        (r.doc_a, r.doc_b) for r in _pairs_from_members(members).collect()
    )
    assert got == ref
