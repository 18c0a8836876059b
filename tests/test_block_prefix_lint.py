"""Static lint: the block prefix sum has one implementation.

``functions/prefix.py::below_sums`` is the package's rank primitive:
a range-bucketed block id ``blk``, an in-block running sum, and an
exclusive running sum over the block table ordered by ``blk``. Any
other window ordered by ``blk`` is a hand-copied block-offset pass. It
fails here unless it is one of the variants ``below_sums`` does not
compute, listed below with what it needs instead. Per-group sums use
``below_sums(..., by=...)``, and an at-or-above sum is the total minus
``below_sums``' strictly-below sum. A new rank or ECDF operator calls
``below_sums``; stale entries (allowlisted but no longer matching) also
fail, so the list stays in sync with the code.
"""

from __future__ import annotations

import collections
import re

from tests.test_round_boundary_lint import PKG, _normalize

# a window whose ORDER BY is the block id, with or without a partition
# spec in front: Window.orderBy("blk") / Window.partitionBy(...).orderBy("blk")
PAT = re.compile(
    r'Window\s*\.\s*(?:partitionBy\([^()]*\)\s*\.\s*)?orderBy\(\s*"blk"'
)

ALLOWED: dict[tuple[str, str], str] = {
    ("functions/prefix.py", "below_sums"): "the primitive itself",
    ("operators/analytics.py", "q_orders_skyline"): "prefix MAX, not a sum",
    ("operators/analytics.py", "q_orders_abc_class"): (
        "inclusive sum in (cents desc, partkey) order: a tie-broken "
        "composite order, not one distinct value column"
    ),
    ("operators/analytics.py", "stats_hodges_lehmann"): (
        "block offsets of pair counts, looked up by rank target"
    ),
    ("operators/corpus.py", "corpus_token_budget"): (
        "inclusive sum in (md5 string, doc_id) order within hash-prefix "
        "blocks: a string-hash composite order"
    ),
}


def _census() -> dict[tuple[str, str], int]:
    """(module, top-level function) -> matches in its normalized body."""
    found: dict[tuple[str, str], int] = collections.defaultdict(int)
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()

        def flush(fn: str, body: list[str]) -> None:
            n = len(PAT.findall(_normalize("\n".join(body))))
            if n:
                found[(mod, fn)] += n

        fn = "<module>"
        body: list[str] = []
        for line in path.read_text().splitlines():
            m = re.match(r"def (\w+)", line)
            if m:
                flush(fn, body)
                fn = m.group(1)
                body = []
            body.append(line)
        flush(fn, body)
    return found


def test_no_hand_copied_block_offset_window():
    new = sorted(set(_census()) - set(ALLOWED))
    assert not new, (
        "hand-written block-offset window(s) ordered by blk: "
        + ", ".join(f"{m}:{fn}" for m, fn in new)
        + " — compute the exclusive running sum with "
        "functions.prefix.below_sums, or allowlist the variant with what "
        "below_sums cannot do for it."
    )


def test_no_stale_entries():
    stale = sorted(set(ALLOWED) - set(_census()))
    assert not stale, "stale ALLOWED entries: " + ", ".join(
        f"{m}:{fn}" for m, fn in stale
    )


def test_pattern_catches_the_block_window_shapes():
    for snippet in (
        'Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)',
        'Window.orderBy( "blk" )',
        'Window.partitionBy("host") .orderBy("blk")',
        'Window.partitionBy("a", "b").orderBy("blk", "x")',
    ):
        assert PAT.search(_normalize(snippet)), snippet
    for snippet in (
        'Window.partitionBy("blk").orderBy("value")',
        'Window.orderBy("block")',
        'df.orderBy("blk")',
    ):
        assert not PAT.search(_normalize(snippet)), snippet
