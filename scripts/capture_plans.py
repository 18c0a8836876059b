#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into a directory.

Usage: python scripts/capture_plans.py <out_dir> <suffix> [query,query,...]

Writes <out_dir>/<query>_<suffix>.txt for each query (default: the
bench.py HEADLINE list), e.g. ``plans/r14 before`` then ``plans/r14
after`` around a change. The plans are generated from the live
registry at sf0.1 (``SPARK_GRAFT_SF_DIR`` overrides).

Next to each plan, <out_dir>/<query>_<suffix>.pins.txt holds the
formatted plan of every DataFrame that reaches ``localCheckpoint``
while the query is built, in call order. A pin shows as a bare
``Scan ExistingRDD`` in the query's own plan, so a change to the code
behind a pin is visible only in this file.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402

from navigator_data_ingest_spark import registry  # noqa: E402
from navigator_data_ingest_spark.plans.audit import formatted_plan  # noqa: E402
from navigator_data_ingest_spark.session import get_spark  # noqa: E402

def _record_pins(cls: type, pinned: list[str]) -> None:
    """Make ``cls.localCheckpoint`` append the plan it pins to ``pinned``."""
    pin = cls.localCheckpoint

    def recording(self: DataFrame, *args, **kwargs) -> DataFrame:
        pinned.append(formatted_plan(self))
        return pin(self, *args, **kwargs)

    cls.localCheckpoint = recording


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
    pinned: list[str] = []
    # the session's concrete DataFrame class, which overrides the
    # abstract pyspark.sql.DataFrame method
    _record_pins(type(spark.range(0)), pinned)
    qs = registry.queries()
    for name in names:
        pinned.clear()
        try:
            plan = formatted_plan(qs[name](spark, sf_dir))
        except Exception as e:
            plan = f"PLAN CAPTURE FAILED: {e}"
        base = os.path.join(out_dir, f"{name}_{suffix}")
        with open(f"{base}.txt", "w") as fh:
            fh.write(plan)
        with open(f"{base}.pins.txt", "w") as fh:
            for i, pin in enumerate(pinned):
                fh.write(f"=== pin {i} ===\n{pin}\n")
        print(name, "ok", len(pinned), "pins", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
