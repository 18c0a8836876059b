"""Known answers for ``functions.prefix.below_sums``: each case is
checked against a plain-Python exclusive running sum over the rows
sorted by value."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from navigator_data_ingest_spark.functions.prefix import BLOCKS, below_sums


def _expected(rows: list[tuple]) -> dict:
    """value -> per-column sums over the rows with a smaller value."""
    out, acc = {}, [0] * (len(rows[0]) - 1)
    for v, *cs in sorted(rows):
        out[v] = tuple(acc)
        acc = [a + c for a, c in zip(acc, cs)]
    return out


def _got(spark, rows, schema, **sums) -> dict:
    df = spark.createDataFrame(rows, schema)
    out = below_sums(df, "v", **sums)
    assert out.columns == df.columns + list(sums)
    return {r["v"]: tuple(r[n] for n in sums) for r in out.collect()}


def test_many_blocks_two_columns(spark):
    """More distinct values than blocks, so most blocks carry a
    non-zero offset, with two count columns summed at once."""
    rng = random.Random(7)
    vs = rng.sample(range(-50_000, 50_000), 3 * BLOCKS)
    rows = [(v * 0.25, rng.randint(0, 9), rng.randint(0, 3)) for v in vs]
    got = _got(
        spark, rows, "v double, a bigint, b bigint",
        below_a=F.col("a"), below_b=F.col("b"),
    )
    assert got == _expected(rows)


def test_single_distinct_value(spark):
    """mx == mn: every row maps to block 0 and nothing is below."""
    got = _got(spark, [(5.0, 3)], "v double, c bigint", below=F.col("c"))
    assert got == {5.0: (0,)}


def test_negative_values(spark):
    rows = [(v, abs(v) % 7 + 1) for v in range(-4000, -1000, 3)]
    got = _got(spark, rows, "v bigint, c bigint", below=F.col("c"))
    assert got == _expected(rows)


def test_bigints_sharing_a_double_image(spark):
    """Bigints near 2**62 whose double images collide land in one block;
    the in-block window orders by the exact bigint, so the sums stay
    exact. The range also exceeds Long.MAX, which a bigint ``v - mn``
    would overflow."""
    top = [2**62 + k for k in range(40)]
    assert len({float(v) for v in top}) < len(top)
    rows = [(v, k + 1) for k, v in enumerate([-(2**62), 0, *top])]
    got = _got(spark, rows, "v bigint, c bigint", below=F.col("c"))
    assert got == _expected(rows)


def test_column_expression_and_constant(spark):
    """A sum may be any Column: ``F.lit(1)`` gives the 0-based rank."""
    rows = [(float(v), v % 3) for v in range(0, 2500, 5)]
    got = _got(
        spark, rows, "v double, c bigint",
        rank=F.lit(1), twice=F.col("c") * 2,
    )
    want = _expected([(v, 1, 2 * c) for v, c in rows])
    assert got == want


def test_zero_rows(spark):
    df = spark.createDataFrame([], "v double, c bigint")
    out = below_sums(df, "v", below=F.col("c"))
    assert out.columns == ["v", "c", "below"]
    assert out.collect() == []


def _expected_by(rows: list[tuple]) -> dict:
    """(group, value) -> sum of the count over the group's rows with a
    smaller value; NULL is a group of its own."""
    groups: dict = {}
    for g, v, c in rows:
        groups.setdefault(g, []).append((v, c))
    return {
        (g, v): sums
        for g, vcs in groups.items()
        for v, sums in _expected(vcs).items()
    }


def _got_by(spark, rows) -> dict:
    df = spark.createDataFrame(rows, "g string, v bigint, c bigint")
    out = below_sums(df, "v", by=["g"], below=F.col("c"))
    assert out.columns == ["g", "v", "c", "below"]
    got = {(r["g"], r["v"]): (r["below"],) for r in out.collect()}
    assert len(got) == len(rows)
    return got


def test_by_null_group_and_one_row_group(spark):
    """Interleaved values in three groups: the NULL group sums on its
    own, and a one-row group has nothing below it."""
    rows = [("a", v, v % 5 + 1) for v in range(0, 3000, 3)]
    rows += [(None, v, 2) for v in range(1, 3000, 7)]
    rows += [("solo", 1500, 9)]
    assert _got_by(spark, rows) == _expected_by(rows)


def test_by_disjoint_value_ranges(spark):
    """Each group spans a narrow slice of the global range, so the
    global block map puts each group in a few blocks."""
    rows = [("low", v, 1 + v % 3) for v in range(0, 200)]
    rows += [("high", 10**9 + v, 1 + v % 4) for v in range(0, 200)]
    assert _got_by(spark, rows) == _expected_by(rows)


def test_by_group_with_more_values_than_blocks(spark):
    """One group alone fills every block several times over, next to a
    small group sharing its range."""
    rng = random.Random(11)
    vs = rng.sample(range(-100_000, 100_000), 3 * BLOCKS)
    rows = [("big", v, rng.randint(0, 9)) for v in vs]
    rows += [("small", v, 1) for v in rng.sample(vs, 10)]
    assert _got_by(spark, rows) == _expected_by(rows)
