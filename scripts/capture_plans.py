#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into a directory.

Usage: python scripts/capture_plans.py <out_dir> <suffix> [query,query,...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: the
bench.py HEADLINE list), e.g. ``plans/r14 before`` then ``plans/r14
after`` around a change. The plans are generated from the live
registry at sf0.1 (``SPARK_GRAFT_SF_DIR`` overrides).

Next to each plan, <out_dir>/<query>_<suffix>.pins.txt holds the
formatted plan of every DataFrame that reaches ``localCheckpoint``
(``=== pin i ===``) or a ``DataFrameWriter`` save method
(``=== write i ===``) while the query is built, in call order. Every
``sources.tables.pin`` is recorded, since ``pin`` calls
``localCheckpoint``; so are the few raw sites its lint allows
(``tests/test_pin_lint.py``) except the two ``persist`` calls. A pin
shows as a bare ``Scan ExistingRDD`` in the query's own plan, and a
round-trip key's plan shows only the scan that reads its output back,
so a change to the code behind a pin or a write is visible only in
this file.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from navigator_data_ingest_spark import registry  # noqa: E402
from navigator_data_ingest_spark.plans.audit import formatted_plan  # noqa: E402
from navigator_data_ingest_spark.session import get_spark  # noqa: E402

# every DataFrameWriter method that writes (saves) the DataFrame
_WRITES = (
    "save",
    "insertInto",
    "saveAsTable",
    "json",
    "parquet",
    "text",
    "csv",
    "xml",
    "orc",
    "jdbc",
)


def _record(cls: type, method: str, kind: str, captured: list, df_of) -> None:
    """Make ``cls.method`` append (kind, the plan of ``df_of(self)``) to
    ``captured`` before it runs."""
    run = getattr(cls, method)

    def recording(self, *args, **kwargs):
        captured.append((kind, formatted_plan(df_of(self))))
        return run(self, *args, **kwargs)

    setattr(cls, method, recording)


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if len(sys.argv) > 3:
        names = sys.argv[3].split(",")
    else:
        import bench

        names = bench.HEADLINE
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"capture-plans-{suffix}")
    captured: list[tuple[str, str]] = []
    # the session's concrete DataFrame and writer classes, which
    # override the abstract pyspark.sql methods
    df = spark.range(0)
    _record(type(df), "localCheckpoint", "pin", captured, lambda d: d)
    for method in _WRITES:
        _record(type(df.write), method, "write", captured, lambda w: w._df)
    qs = registry.queries()
    for name in names:
        captured.clear()
        try:
            plan = formatted_plan(qs[name](spark, sf_dir))
        except Exception as e:
            plan = f"PLAN CAPTURE FAILED: {e}"
        base = os.path.join(out_dir, f"{name}_{suffix}")
        with open(f"{base}.txt", "w") as fh:
            fh.write(plan)
        seen = {"pin": 0, "write": 0}
        with open(f"{base}.pins.txt", "w") as fh:
            for kind, sub in captured:
                fh.write(f"=== {kind} {seen[kind]} ===\n{sub}\n")
                seen[kind] += 1
        print(name, "ok", seen["pin"], "pins", seen["write"], "writes", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
