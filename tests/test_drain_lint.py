"""Static lint: every stream runs through ``streaming/streams.py::drain``.

``drain`` is the package's one way to run a stream: it clamps the
stream confs, sets the checkpoint, triggers ``availableNow`` and waits
for the query to end. A ``trigger`` or ``awaitTermination`` call
anywhere else in the package fails here, and so does a stale entry, so
the list stays in sync with the code. The census is the one the
scratch lint runs (``tests/test_scratch_lint.py``).
"""

from __future__ import annotations

from tests.test_scratch_lint import census, raw_calls

RAW = ("trigger", "awaitTermination")

ALLOWED = {("streaming/streams.py", "drain"): "the primitive itself"}


def test_no_stream_run_outside_drain():
    found = census(RAW)
    new = sorted(set(found) - set(ALLOWED))
    assert not new, (
        "hand-run stream(s): "
        + ", ".join(f"{m}:{found[(m, fn)]} in {fn}" for m, fn in new)
        + " — pass the configured writer to streaming.streams.drain."
    )


def test_no_stale_entries():
    stale = sorted(set(ALLOWED) - set(census(RAW)))
    assert not stale, "stale ALLOWED entries: " + ", ".join(
        f"{m}:{fn}" for m, fn in stale
    )


def test_detector_catches_the_drain_shapes():
    for snippet in (
        "def f(w):\n    return w.trigger(availableNow=True).start()",
        "def f(w):\n    w.start().awaitTermination()",
        "def f(w):\n    q = w.start()\n    q.awaitTermination(60)",
        "def f(df):\n    def g(w):\n        return w.trigger(once=True)\n    return g",
    ):
        assert [fn for fn, _ in raw_calls(snippet, RAW)] == ["f"], snippet
    for snippet in (
        "def f(w, ck):\n    return drain(w, ck)",
        "def f(w):\n    # .trigger() changes on a cluster\n    return w",
        "def f():\n    '''q.awaitTermination() blocks'''\n    return 1",
        "def f(q):\n    return q.recentProgress",
    ):
        assert raw_calls(snippet, RAW) == [], snippet
