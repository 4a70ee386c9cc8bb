"""Basket pair counting: the single-task numpy tier and the Spark tier of
queries/basket.py::pair_counts_from_lines give identical rows, and null
keys never form a basket in either."""

from __future__ import annotations

import pytest

from tests.conftest import lines_frame, pair_counts_both_tiers, pinned_budget


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_single_task_rule(spark):
    """``single_task.fits`` at 16 bytes per line: sf0.1 (600,000 lines)
    fits a 64 MiB budget, sf1 (6,000,000 lines = 96 MB) does not, a
    budget of -1 or an unknown size never fits, and a size equal to the
    budget does not fit."""
    from energy_consumption_forecasting_spark.operators.single_task import fits

    mib64 = 64 << 20
    cases = [
        (600_000 * 16, mib64, True),
        (6_000_000 * 16, mib64, False),
        (0, -1, False),
        (600_000 * 16, -1, False),
        (None, mib64, False),
        (100 * 16, 1601, True),
        (100 * 16, 1600, False),
        (mib64, mib64, False),
    ]
    for n_bytes, budget, want in cases:
        with pinned_budget(spark, budget):
            assert fits(spark, n_bytes) is want, (n_bytes, budget)


def test_empty_lines_both_tiers(spark):
    lines = lines_frame(spark, [])
    single, spark_tier = pair_counts_both_tiers(spark, lines, 0)
    assert _rows(single) == _rows(spark_tier) == []


def test_duplicate_lines_both_tiers(spark):
    """Duplicate (order, part) lines count once per basket, as
    collect_set does; item 3's two lines in one basket pass the raw
    line-count prune but form no pair.  Orders 2^53 and 2^53 + 1 are
    two baskets, which a float64 round trip would merge."""
    rows = [(1, 1), (1, 1), (1, 2), (2, 1), (2, 2), (2, 2), (3, 3), (3, 3)]
    rows += [(o, i) for o in (2**53, 2**53 + 1) for i in (7, 8)]
    lines = lines_frame(spark, rows)
    single, spark_tier = pair_counts_both_tiers(spark, lines, len(rows))
    assert _rows(single) == _rows(spark_tier) == [(1, 2, 2), (7, 8, 2)]


def test_item_counts_path_both_tiers(spark):
    """The distinct-basket prune that a_assoc_rules and a_item_item_cf
    pass as item_counts= gives the same pairs on both tiers as the raw
    line-count prune."""
    from pyspark.sql import functions as F

    from energy_consumption_forecasting_spark.queries.basket import _item_counts

    lines = spark.range(0, 3000).select(
        (F.col("id") % 400).alias("l_orderkey"),
        ((F.col("id") * 7919) % 90).alias("l_partkey"),
    )
    by_line = pair_counts_both_tiers(spark, lines, 3000)
    by_basket = pair_counts_both_tiers(
        spark, lines, 3000, item_counts=_item_counts(lines)
    )
    want = _rows(by_line[0])
    assert len(want) > 100
    assert [_rows(df) for df in by_line + by_basket] == [want] * 4


def test_pack_guard_follows_the_prune_on_both_tiers(spark):
    """The tiers form the same pairs, so they fail fast on the same ids:
    item 2^31 sits on two lines of ONE basket, so the raw line-count
    prune keeps it and its pair must raise, while the distinct-basket
    prune drops it and the pair is never formed."""
    from energy_consumption_forecasting_spark.queries.basket import _item_counts

    big = 2**31
    rows = [(1, 5), (1, big), (1, big), (2, 5), (2, 6), (3, 5), (3, 6)]
    lines = lines_frame(spark, rows)
    for df in pair_counts_both_tiers(spark, lines, len(rows)):
        with pytest.raises(Exception, match=r"basket pair key < 0 or >= 2\^31"):
            df.collect()
    frames = pair_counts_both_tiers(
        spark, lines, len(rows), item_counts=_item_counts(lines)
    )
    assert [_rows(df) for df in frames] == [[(5, 6, 2)]] * 2


def _write_lineitem(tmp_path, rows) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        name: pa.array([r[i] for r in rows], pa.int64())
        for i, name in enumerate(("l_orderkey", "l_partkey"))
    }
    pq.write_table(pa.table(cols), str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def _oracle_rows(sf_dir: str, name: str):
    import duckdb

    from energy_consumption_forecasting_spark.queries import load_all

    _, oracles = load_all()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    return sorted(con.execute(oracles[name]).fetchall())


def test_null_keys_form_no_basket(spark, tmp_path):
    """Lines with a null l_orderkey are not one basket: the oracle's
    equi-join never pairs them, and a null l_partkey is no item.  Both
    tiers of a_basket_pairs (the footer row count picks the tier) must
    match the oracle on the 9-row repro."""
    from energy_consumption_forecasting_spark.queries import load_all

    rows = [
        (None, 1), (None, 2), (None, 1), (None, 2),
        (5, 1), (5, 2), (6, 1), (6, None), (6, 2),
    ]
    sf_dir = _write_lineitem(tmp_path, rows)
    want = _oracle_rows(sf_dir, "a_basket_pairs")
    assert want == [(1, 2, 2)]
    qs, _ = load_all()
    for budget in (len(rows) * 16 + 1, len(rows) * 16):
        with pinned_budget(spark, budget):
            df = qs["a_basket_pairs"](spark, sf_dir)
        assert _rows(df) == want


def test_null_keys_form_no_basket_triples(spark, tmp_path):
    from energy_consumption_forecasting_spark.queries import load_all

    rows = [(None, 1), (None, 2), (None, 3)] * 2 + [
        (5, 1), (5, 2), (5, 3), (6, 1), (6, 2), (6, None), (6, 3),
    ]
    sf_dir = _write_lineitem(tmp_path, rows)
    want = _oracle_rows(sf_dir, "a_basket_triples")
    assert want == [(1, 2, 3, 2)]
    qs, _ = load_all()
    assert _rows(qs["a_basket_triples"](spark, sf_dir)) == want
