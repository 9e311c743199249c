"""Pins the Spark job count of one known plan: `q3_shipping_priority` at
sf0.1 on 4 cores runs 4 jobs (plan construction plus the noop sink).

A change that adds or removes jobs from this plan shows here as a count,
before any timing.  Starts a local Spark session (about 15 s)."""

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
for p in (ROOT, ROOT / "perfbench"):
    sys.path.insert(0, str(p))


def test_q3_shipping_priority_runs_four_jobs(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setenv("SPARK_GRAFT_JDBC_JAR", "")
    import datagen
    from dffoo_data_pipeline_spark.plans import all_queries
    from dffoo_data_pipeline_spark.session import get_spark

    data = datagen.base_tables(str(tmp_path), 0.1, 0)
    spark = get_spark("perfbench-job-count")
    q3 = all_queries()[0]["q3_shipping_priority"]
    q3(spark, data).write.mode("overwrite").format("noop").save()  # warm-up rep
    sc = spark.sparkContext
    sc.setJobGroup("q3-pin", "q3_shipping_priority")
    q3(spark, data).write.mode("overwrite").format("noop").save()
    jobs = sc.statusTracker().getJobIdsForGroup("q3-pin")
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 4, f"q3_shipping_priority ran {len(jobs)} jobs"
