"""Static lint: every materialized intermediate goes through ``pin``.

``sources/tables.py::pin`` is the package's one way to materialize a
DataFrame for reuse. A raw ``localCheckpoint``, ``checkpoint``,
``persist`` or ``cache`` call anywhere else fails here unless the site
needs semantics ``pin`` does not have, listed below with what it needs.
Stale entries (allowlisted but no longer calling) also fail, so the
list stays in sync with the code.
"""

from __future__ import annotations

import ast
import collections

from tests.test_round_boundary_lint import PKG

RAW = ("localCheckpoint", "checkpoint", "persist", "cache")

ALLOWED: dict[tuple[str, str], str] = {
    ("sources/tables.py", "pin"): "the primitive itself",
    ("streaming/streams.py", "stream_foreachbatch_retry"): (
        "eager localCheckpoint of the replayed batch: it must be read "
        "before the replay overwrites the directory it comes from"
    ),
    ("streaming/streams.py", "stream_multiplex_router"): (
        "persist/unpersist around one foreachBatch micro-batch, which "
        "the router writes once per route; the cache is freed when the "
        "batch ends"
    ),
    ("operators/similarity.py", "emb_pca_power"): (
        "persist keeps lineage, so a lost block of the embedding column "
        "is recomputed instead of failing the query; nothing unpersists "
        "it, so it stays cached for the session"
    ),
}


def _raw_calls(source: str) -> list[tuple[str, int]]:
    """(enclosing top-level function, line) of each raw call in ``source``."""
    found = []
    for top in ast.parse(source).body:
        name = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in RAW
            ):
                found.append((name, node.lineno))
    return found


def _census() -> dict[tuple[str, str], list[int]]:
    """(module, top-level function) -> lines of its raw calls."""
    found: dict[tuple[str, str], list[int]] = collections.defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for fn, line in _raw_calls(path.read_text()):
            found[(mod, fn)].append(line)
    return found


def test_no_raw_materialization_outside_pin():
    census = _census()
    new = sorted(set(census) - set(ALLOWED))
    assert not new, (
        "raw localCheckpoint/checkpoint/persist/cache call(s): "
        + ", ".join(f"{m}:{census[(m, fn)]} in {fn}" for m, fn in new)
        + " — materialize through sources.tables.pin, or allowlist the "
        "site with the semantics pin does not have."
    )


def test_each_allowed_site_is_one_call():
    census = _census()
    more = {k: v for k, v in census.items() if k in ALLOWED and len(v) > 1}
    assert not more, f"allowlisted functions with more than one raw call: {more}"


def test_no_stale_entries():
    stale = sorted(set(ALLOWED) - set(_census()))
    assert not stale, "stale ALLOWED entries: " + ", ".join(
        f"{m}:{fn}" for m, fn in stale
    )


def test_detector_catches_the_raw_shapes():
    for snippet in (
        "def f(df):\n    return df.localCheckpoint()",
        "def f(df):\n    return df.localCheckpoint(eager=False)",
        "def f(df):\n    return (\n        df.select('a')\n        .localCheckpoint(\n            eager=False\n        )\n    )",
        "def f(df):\n    return df.persist(StorageLevel.DISK_ONLY)",
        "def f(df):\n    return df.cache()",
        "def f(df):\n    return df.checkpoint()",
        "def f(df):\n    def g(b):\n        return b.persist()\n    return g",
    ):
        assert [fn for fn, _ in _raw_calls(snippet)] == ["f"], snippet
    for snippet in (
        "def f(df):\n    return pin(df)",
        "def f(df):\n    return df.transform(pin)",
        "def f(df):\n    # one localCheckpoint( per round\n    return df",
        "def f(df):\n    '''df.cache() would keep it'''\n    return df",
        "def f(df):\n    return df.unpersist()",
    ):
        assert _raw_calls(snippet) == [], snippet
