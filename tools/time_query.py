#!/usr/bin/env python
"""Isolated per-query timing: warm once, then N noop-sink reps (guide §1.4).

Usage: python tools/time_query.py <query> [reps=4]
Prints, per rep, the plan-construction seconds (building the DataFrame,
including any eager work it does) and the action seconds (the noop
write), then the min of each.  For A/B comparisons run the before and
after builds back-to-back so host weather cancels.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from dffoo_data_pipeline_spark.plans import all_queries  # noqa: E402
from dffoo_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time-query")
    queries, _ = all_queries()
    spark.sparkContext.setJobDescription(name)
    queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm
    build, act = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        build.append(t1 - t0)
        act.append(time.perf_counter() - t1)
    for label, times in (("construct", build), ("action", act)):
        print(name, label, " ".join(f"{t:.3f}" for t in times), "min", f"{min(times):.3f}")


if __name__ == "__main__":
    main()
