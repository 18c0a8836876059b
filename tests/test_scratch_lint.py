"""Static lint: every temp directory comes from ``sources/sinks.py``.

``sinks.sink_path`` is the package's one temp root: deterministic and
scoped to the process id, and ``sinks.scratch_dir`` empties it for a
fresh run. A ``tempfile.gettempdir``, ``mkdtemp`` or
``TemporaryDirectory`` call anywhere else fails here unless the site
needs a different policy, listed below with what it needs. Stale
entries (allowlisted but no longer calling) also fail, so the list
stays in sync with the code. ``census`` takes the call names, so the
stream-drain lint (``tests/test_drain_lint.py``) runs the same census.
"""

from __future__ import annotations

import ast
import collections

from tests.test_round_boundary_lint import PKG

RAW = ("gettempdir", "mkdtemp", "TemporaryDirectory")

ALLOWED: dict[tuple[str, str], str] = {
    ("sources/sinks.py", "sink_path"): "the primitive itself",
}


def raw_calls(source: str, names: tuple[str, ...]) -> list[tuple[str, int]]:
    """(enclosing top-level function, line) of each call in ``source``
    to a function or method named in ``names``."""
    found = []
    for top in ast.parse(source).body:
        name = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if called in names:
                found.append((name, node.lineno))
    return found


def census(names: tuple[str, ...]) -> dict[tuple[str, str], list[int]]:
    """(module, top-level function) -> lines of its calls to ``names``
    across the package."""
    found: dict[tuple[str, str], list[int]] = collections.defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        mod = path.relative_to(PKG).as_posix()
        for fn, line in raw_calls(path.read_text(), names):
            found[(mod, fn)].append(line)
    return found


def test_no_temp_root_outside_sinks():
    found = census(RAW)
    new = sorted(set(found) - set(ALLOWED))
    assert not new, (
        "hand-built temp root(s): "
        + ", ".join(f"{m}:{found[(m, fn)]} in {fn}" for m, fn in new)
        + " — use sources.sinks.scratch_dir (fresh per run) or sink_path "
        "(a per-process cache), or allowlist the site with its policy."
    )


def test_each_allowed_site_is_one_call():
    found = census(RAW)
    more = {k: v for k, v in found.items() if k in ALLOWED and len(v) > 1}
    assert not more, f"allowlisted functions with more than one call: {more}"


def test_no_stale_entries():
    stale = sorted(set(ALLOWED) - set(census(RAW)))
    assert not stale, "stale ALLOWED entries: " + ", ".join(
        f"{m}:{fn}" for m, fn in stale
    )


def test_detector_catches_the_temp_root_shapes():
    for snippet in (
        "def f():\n    return tempfile.gettempdir()",
        "def f():\n    return _tempfile.gettempdir()",
        "def f():\n    return os.path.join(gettempdir(), 'x')",
        "def f():\n    return tempfile.mkdtemp(prefix='nav_')",
        "def f():\n    with tempfile.TemporaryDirectory() as d:\n        return d",
        "def f():\n    def g():\n        return mkdtemp()\n    return g",
    ):
        assert [fn for fn, _ in raw_calls(snippet, RAW)] == ["f"], snippet
    for snippet in (
        "def f(key):\n    return scratch_dir('k', key)",
        "def f(key):\n    return sink_path('k', key)",
        "def f():\n    # tempfile.gettempdir() per run\n    return 1",
        "def f():\n    '''a mkdtemp() per drain would leak'''\n    return 1",
        "def f():\n    return tempfile.gettempdir",
    ):
        assert raw_calls(snippet, RAW) == [], snippet
