"""Exclusive running sums without a global sort.

``below_sums`` is the rank primitive of the distinct-value statistics
(Mann-Whitney, Kruskal-Wallis, Cramér-von Mises, the classifier AUC
and gains tables, ...): for each row, the sum of some Columns over the
rows that sort strictly before it. A plain
``Window.orderBy(v).rowsBetween(unboundedPreceding, -1)`` computes the
same thing on ONE task; this is the two-level form, whose only
unpartitioned window runs over a table of at most ``BLOCKS`` rows
(none with ``by=``, the per-group form behind the Gini, frontier-wave
and aspect-bucket ranks).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BLOCKS = 1024


def below_sums(
    df: DataFrame, order_col: str, *, by: Sequence[str] = (), **sums: Column
) -> DataFrame:
    """``df`` plus, for each ``name=col`` in ``sums``, a column ``name``
    holding the sum of ``col`` over the rows ordered strictly before
    this one by ``order_col`` (a rows frame ``unboundedPreceding .. -1``;
    0 for the first row, never NULL). With ``by``, the sum restarts for
    each combination of the ``by`` columns, like a window partitioned
    by them.

    Two levels:

    1. A 1-row min/max of ``order_col`` is broadcast onto every row, and
       each row gets ``blk = least(BLOCKS - 1, floor((v - mn) / (mx - mn
       + 1e-9) * BLOCKS))`` with ``v`` the value as a double. Within a
       block, a window partitioned by ``by`` and ``blk`` and ordered by
       the TRUE value gives the in-block running sums.
    2. A ``groupBy(*by, "blk")`` block table gets an exclusive running
       sum over a window partitioned by ``by`` and ordered by ``blk``,
       and the block offsets are broadcast-joined back. Without ``by``
       the table has at most ``BLOCKS`` rows and its window is the only
       unpartitioned one; with ``by`` it has at most groups × ``BLOCKS``
       rows and no window is unpartitioned.

    The sums are exact for ANY block map that is non-decreasing in the
    value, because the in-block window orders by the value itself: rows
    before this one are either in a lower block (counted by the offset)
    or in this block and earlier in its order (counted by the in-block
    sum). Every step of the formula above is non-decreasing — the cast
    to double included, even where distinct bigints share one double
    image and so one block — so integer and double order columns share
    it. The same holds within each group, so one global min/max serves
    every group; a group whose values span a narrow range just uses
    few blocks.

    ``order_col`` must be non-NULL and distinct per row (per group with
    ``by``): a NULL value has no block and its row is dropped by the
    block join, and rows that tie on ``order_col`` would sum in an
    arbitrary order. Callers collapse to distinct values and filter
    NULLs first. A NULL ``by`` value is a group of its own: the offsets
    join back null-safe. The function adds no pin and launches no job; a
    caller whose result feeds more than one consumer pins it.
    """
    v = F.col(order_col).cast("double")
    rng = df.agg(F.min(v).alias("_mn"), F.max(v).alias("_mx"))
    b = df.crossJoin(F.broadcast(rng)).withColumn(
        "blk",
        F.least(
            F.lit(BLOCKS - 1),
            F.floor(
                (v - F.col("_mn"))
                / (F.col("_mx") - F.col("_mn") + F.lit(1e-9))
                * BLOCKS
            ),
        ),
    )
    keys = [*by, "blk"]
    w_in = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_blk = (
        Window.partitionBy(*by)
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    b = b.select(
        "*",
        *[
            F.coalesce(F.sum(c).over(w_in), F.lit(0)).alias(f"_in_{name}")
            for name, c in sums.items()
        ],
    )
    bt = b.groupBy(*keys).agg(
        *[F.sum(c).alias(f"_blk_{name}") for name, c in sums.items()]
    )
    offs = [
        F.coalesce(F.sum(f"_blk_{name}").over(w_blk), F.lit(0)).alias(
            f"_off_{name}"
        )
        for name in sums
    ]
    if by:
        # NULL is a group of its own, so the group keys join null-safe,
        # which a join on column names cannot do
        bt = bt.select(*[F.col(k).alias(f"_bt_{k}") for k in keys], *offs)
        on = [F.col(k).eqNullSafe(F.col(f"_bt_{k}")) for k in by]
        on.append(F.col("blk") == F.col("_bt_blk"))
    else:
        bt = bt.select("blk", *offs)
        on = "blk"
    return b.join(F.broadcast(bt), on).select(
        *df.columns,
        *[
            (F.col(f"_off_{name}") + F.col(f"_in_{name}")).alias(name)
            for name in sums
        ],
    )
