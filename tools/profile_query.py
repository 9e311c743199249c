#!/usr/bin/env python
"""Per-query job/stage decomposition via the Spark event log (guide §7).

Usage: python tools/profile_query.py <query> [reps=2]

Runs the query through the noop sink with the event log enabled, then
parses SparkListenerJobStart/JobEnd/StageCompleted events for each TIMED
rep and prints:
  - wall seconds per rep
  - per-job: wall, stage count, task count
  - per-stage: name, numTasks, executorRunTime sum, stage wall
The gap between per-rep wall and the sum of job walls is driver-side
planning/dispatch; the gap between a job's wall and its stages' task
time is scheduling + AQE re-planning overhead.

The session is session.get_spark's (same shuffle partitions, AQE,
Arrow, broadcast threshold, JDBC jar, checkpoint dir) plus the event
log, which does not change planning.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

LOGDIR = "/tmp/spark-eventlogs"
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": f"file://{LOGDIR}",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    os.makedirs(LOGDIR, exist_ok=True)
    from dffoo_data_pipeline_spark.session import get_spark

    spark = get_spark("profile-query", extra_conf=EVENT_LOG_CONF)
    from dffoo_data_pipeline_spark.plans import all_queries

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries, _ = all_queries()
    sc = spark.sparkContext
    app_id = sc.applicationId

    def run() -> float:
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    sc.setJobDescription(f"warm:{name}")
    walls = [run()]  # warm
    for i in range(reps):
        sc.setJobDescription(f"rep{i}:{name}")
        walls.append(run())
    spark.stop()

    # Spark 4 rolling layout: eventlog_v2_<appId>/events_*_<appId>; fall
    # back to the single-file layout of older versions.  Segments sort
    # NUMERICALLY by index (events_10 would lexicographically sort before
    # events_2 and apply stage updates out of order).
    def _seg_index(p: Path) -> tuple:
        parts = p.name.split("_")
        return (int(parts[1]),) if len(parts) > 1 and parts[1].isdigit() else (0,)

    lines_iter: list[str] = []
    v2 = Path(LOGDIR) / f"eventlog_v2_{app_id}"
    if v2.is_dir():
        for f in sorted(v2.glob("events_*"), key=_seg_index):
            lines_iter.extend(f.read_bytes().decode().splitlines())
    else:
        cands = sorted(Path(LOGDIR).glob(f"{app_id}*"))
        if not cands:
            print("no event log found", file=sys.stderr)
            sys.exit(1)
        lines_iter = cands[0].read_text().splitlines()
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines_iter:
        ev = json.loads(line)
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            desc = ev.get("Properties", {}).get("spark.job.description", "")
            jobs[jid] = {
                "t0": ev["Submission Time"],
                "desc": desc,
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["t1"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = dict(
                stages.get(si["Stage ID"], {}),
                name=si["Stage Name"].split("\n")[0][:70],
                tasks=si["Number of Tasks"],
                t0=si.get("Submission Time"),
                t1=si.get("Completion Time"),
            )
        elif e == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tm = ev.get("Task Metrics") or {}
            st = stages.setdefault(sid, {"run_ms": 0, "deser_ms": 0})
            st["run_ms"] = st.get("run_ms", 0) + tm.get("Executor Run Time", 0)
            st["deser_ms"] = st.get("deser_ms", 0) + tm.get(
                "Executor Deserialize Time", 0
            )

    print(f"query={name} walls={['%.3f' % w for w in walls]} (first=warm)")
    for ri in range(reps):
        # attribute jobs by the thread-local rep tag each run sets (exact),
        # not by wall-clock windows, which can misassign jobs
        rjobs = {j: v for j, v in jobs.items() if v.get("desc") == f"rep{ri}:{name}"}
        tot_job_wall = sum((v["t1"] - v["t0"]) for v in rjobs.values() if "t1" in v)
        print(
            f"-- rep{ri}: wall={walls[ri+1]:.3f}s jobs={len(rjobs)} "
            f"job-wall-sum={tot_job_wall/1000:.3f}s "
            f"driver-gap={walls[ri+1] - tot_job_wall/1000:.3f}s"
        )
        for j in sorted(rjobs):
            v = rjobs[j]
            jw = (v.get("t1", 0) - v["t0"]) / 1000
            sids = [s for s in v["stages"] if stages.get(s, {}).get("t0")]
            print(f"  job {j} wall={jw:.3f}s stages_run={len(sids)}/{len(v['stages'])}")
            for s in sorted(sids):
                st = stages[s]
                sw = (st["t1"] - st["t0"]) / 1000 if st.get("t1") and st.get("t0") else -1
                print(
                    f"    stage {s} [{st['tasks']}t wall={sw:.3f} "
                    f"run={st.get('run_ms',0)/1000:.3f} "
                    f"deser={st.get('deser_ms',0)/1000:.3f}] {st['name']}"
                )


if __name__ == "__main__":
    main()
