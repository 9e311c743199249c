"""Turn a workload run into end-to-end and per-layer metrics."""

from __future__ import annotations

import math
import statistics
from datetime import datetime

import eventlog
from spans import Tracer, covered, union_length

# name -> unit
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "query_p90_s": "s",
    "rows_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "readers.load_table_s": "s",
    "readers.schema_jobs": "count",
    "readers.scan_bytes": "bytes",
    "readers.files_read_frac": "ratio",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_share": "ratio",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.driver_gap_s": "s",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.arrow_bytes_to_python": "bytes",
    "operators.arrow_bytes_from_python": "bytes",
    "operators.slot_idle_frac": "ratio",
    "operators.failed_tasks": "count",
    "operators.stage_retries": "count",
    "writers.write_run_stamped_s": "s",
    "writers.read_latest_run_s": "s",
    "writers.upsert_by_key_s": "s",
    "writers.compact_s": "s",
    "writers.files_written": "count",
    "writers.bytes_written": "bytes",
    "writers.rewrite_amplification": "ratio",
    "writers.stored_bytes_per_input_byte": "ratio",
    "streaming.micro_batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.input_rows": "count",
    "trace.overhead": "ratio",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated q-quantile (0 <= q <= 1)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def step_medians(samples) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for s in samples:
        by.setdefault(s.step, []).append(s.wall_s)
    return {k: median(v) for k, v in by.items()}


def end_to_end(out, setup_times: list[float]) -> tuple[dict, dict]:
    """The user-facing metrics, plus the sample counts behind each."""
    meds = step_medians(out.samples)
    walls = [s.wall_s for s in out.samples]
    pass_s = median(out.pass_walls)
    n = len(walls)
    values = {
        "setup_s": median(setup_times),
        "pass_s": pass_s,
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in meds.values())) if meds else 0.0,
        "query_p90_s": percentile(walls, 0.9),
        "rows_per_s": out.rows_per_pass / pass_s if pass_s else 0.0,
    }
    counts = {
        "setup_s": len(setup_times),
        "pass_s": len(out.pass_walls),
        "query_geomean_s": len(meds),
        "query_p90_s": n,
        "rows_per_s": len(out.pass_walls),
    }
    # the tail the sample supports: the highest percentile with ten samples beyond it
    tail = {"samples": n, "beyond_p90": n - math.ceil(0.9 * n)}
    if n > 10:
        q = (n - 10) / n
        tail.update(percentile=round(100 * q, 1), value_s=percentile(walls, q))
    return values, {"sample_counts": counts, "tail": tail, "step_median_s": meds}


# --- per-layer metrics from spans + event log ---------------------------


def _progress_time(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def layer_metrics(tracer: Tracer, log: eventlog.EventLog, cores: int, out,
                  progress: list[dict], session: dict) -> tuple[dict, dict]:
    """Per-layer metrics per timed pass (median over passes), and the same
    numbers per step (median over that step's timed reps)."""
    tracer.add_jobs(log.jobs.values())
    kids = tracer.children()
    jobs_by_span = {s.sid: log.jobs[s.attrs["job_id"]] for s in tracer.spans if s.name == "spark.job"}

    def walk(span):
        yield span
        for c in kids.get(span.sid, []):
            yield from walk(c)

    def under(span, names: set[str]):
        """spark.job spans whose nearest named ancestor is in `names`."""
        found = []

        def rec(s, layer):
            for c in kids.get(s.sid, []):
                if c.name == "spark.job":
                    if layer in names:
                        found.append(c)
                else:
                    rec(c, c.name if c.name in LAYER_SPANS else layer)

        rec(span, span.name)
        return found

    def stages(job_spans):
        return [st for js in job_spans for st in log.job_stages(jobs_by_span[js.sid])]

    def step_values(step_span) -> dict[str, float]:
        desc = list(walk(step_span))
        dur = {n: sum(s.dur for s in desc if s.name == n) for n in LAYER_SPANS}
        all_jobs = [s for s in desc if s.name == "spark.job"]
        ops_jobs = under(step_span, OPERATOR_SPANS)
        ops_stages = stages(ops_jobs)
        all_stages = stages(all_jobs)
        job_wall = union_length([(j.start, j.end) for j in all_jobs])
        run_s = sum(st.run_ms for st in all_stages) / 1000.0
        gap = sum(s.dur - covered(s.start, s.end, [c for c in kids.get(s.sid, []) if c.name == "spark.job"])
                  for s in desc if s.name == "operators")
        return {
            "readers.load_table_s": dur["readers.load_table"],
            "readers.schema_jobs": len(under(step_span, {"readers.load_table"})),
            "readers.scan_bytes": sum(st.input_bytes for st in all_stages),
            "plans.construct_s": dur["plans"],
            "plans.construct_jobs": len(under(step_span, {"plans"})),
            "operators.jobs": len(ops_jobs),
            "operators.stages": len(ops_stages),
            "operators.tasks": sum(st.tasks for st in ops_stages),
            "operators.driver_gap_s": gap,
            "operators.executor_run_s": sum(st.run_ms for st in ops_stages) / 1000.0,
            "operators.executor_cpu_s": sum(st.cpu_ns for st in ops_stages) / 1e9,
            "operators.gc_s": sum(st.gc_ms for st in ops_stages) / 1000.0,
            "operators.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in ops_stages),
            "operators.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in ops_stages),
            "operators.spill_bytes": sum(st.spill_bytes for st in ops_stages),
            "operators.arrow_bytes_to_python": sum(st.py_sent_bytes for st in all_stages),
            "operators.arrow_bytes_from_python": sum(st.py_returned_bytes for st in all_stages),
            "operators.failed_tasks": sum(st.failed_tasks for st in all_stages),
            "operators.stage_retries": sum(1 for st in all_stages if st.attempt > 0),
            "writers.write_run_stamped_s": dur["writers.write_run_stamped"],
            "writers.read_latest_run_s": dur["writers.read_latest_run"],
            "writers.upsert_by_key_s": dur["writers.upsert_by_key"],
            "writers.compact_s": dur["writers.compact"],
            "_wall_s": step_span.dur,
            "_task_s": run_s,
            "_job_wall_s": job_wall,
        }

    pass_spans = [s for s in tracer.spans if s.name == "pass" and s.attrs.get("rep", -1) >= 0]
    per_pass: list[dict[str, float]] = []
    per_step: dict[str, list[dict[str, float]]] = {}
    io = out.extra.get("io", [])
    for i, p in enumerate(pass_spans):
        totals: dict[str, float] = {}
        for st in kids.get(p.sid, []):
            if st.name != "step":
                continue
            v = step_values(st)
            per_step.setdefault(st.step, []).append(v)
            for k, x in v.items():
                totals[k] = totals.get(k, 0.0) + x
        batches = [b for b in progress if b["numInputRows"] > 0 and p.start <= _progress_time(b["timestamp"]) <= p.end]
        totals["streaming.micro_batches"] = len(batches)
        totals["streaming.input_rows"] = sum(b["numInputRows"] for b in batches)
        if i < len(io):
            rec = io[i]
            # files the latest-run read's scan kept after partition pruning
            scanned = sum(ex.driver_metric(eventlog.FILES_READ)
                          for sp in walk(p) if sp.name == "operators" and sp.step == "read_latest"
                          for ex in log.sql.values() if sp.start <= ex.start_ms / 1000.0 <= sp.end)
            totals["readers.files_read_frac"] = scanned / max(1, rec["raw_files"])
            totals["writers.files_written"] = rec["files_written"]
            totals["writers.bytes_written"] = rec["bytes_written"]
            totals["writers.rewrite_amplification"] = rec["rewrite_bytes"] / max(1, rec["updated_bytes"])
            totals["writers.stored_bytes_per_input_byte"] = rec["stored_bytes"] / max(1, rec["live_landed_bytes"])
        totals["plans.construct_share"] = totals.get("plans.construct_s", 0.0) / p.dur if p.dur else 0.0
        busy = totals.get("_job_wall_s", 0.0) * cores
        totals["operators.slot_idle_frac"] = 1.0 - totals.get("_task_s", 0.0) / busy if busy else 0.0
        per_pass.append(totals)

    timed_batches = [b for b in progress if b["numInputRows"] > 0
                     and any(p.start <= _progress_time(b["timestamp"]) <= p.end for p in pass_spans)]
    metrics = {name: median(t.get(name, 0.0) for t in per_pass) for name in PER_LAYER}
    metrics["session.start_s"] = session["start_s"]
    metrics["session.warm_s"] = session["warm_s"]
    metrics["streaming.batch_s_p50"] = median(b["batchDuration"] / 1000.0 for b in timed_batches)
    steps = {
        step: {k: median(v[k] for v in vals) for k in vals[0]}
        for step, vals in per_step.items()
    }
    return metrics, steps


# spans that name a layer; a Spark job belongs to the nearest one above it
LAYER_SPANS = {
    "plans", "operators", "readers.load_table", "streaming",
    "writers.write_run_stamped", "writers.read_latest_run", "writers.upsert_by_key", "writers.compact",
}
# layers whose jobs are the plan executing (the operators' work)
OPERATOR_SPANS = {
    "operators", "streaming", "writers.write_run_stamped", "writers.read_latest_run",
    "writers.upsert_by_key", "writers.compact",
}
