#!/usr/bin/env python3
"""Layered benchmark of the engine: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}.  With --trace 0 the
metrics are the end-to-end ones; with --trace 1 a separate traced run
reports the per-layer ones.  A full artifact (samples, host load, Spark
conf, versions, spans, per-step layer numbers) is written under
perfbench/.work/results/.  With --setup-only the run makes one cold set-up
and prints its times; a run starts one such process for its second cold
set-up.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.time()  # process start, for the first set-up's wall time

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
SETUPS = 2  # cold set-ups per run, each in a fresh process; setup_s is their median
DRIVER_MEM = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help="make one cold set-up, print its times as JSON and exit")
    return ap.parse_args(argv)


def configure_env(scratch: Path, extra_conf: dict[str, str]) -> dict:
    """Pin the session to this machine and keep every file it writes
    inside the checkout.  Only environment variables the package and
    PySpark already read are set; the package itself is untouched."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = scratch / "spark-local"
    tmp = scratch / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        # no hsperfdata file in /tmp either
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        **extra_conf,
    }
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_JDBC_JAR": "",  # no dependency-cache walk outside the checkout
        "TMPDIR": str(tmp),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
        + " pyspark-shell",
    })
    os.chdir(scratch)  # Spark's relative default paths land in scratch
    return {"cpus": int(cpus), "submit_conf": conf}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class StreamProgress:
    """Registers a StreamingQueryListener and keeps each micro-batch's
    progress (input rows, duration, trigger time)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                batches.append({"batchId": p.batchId, "numInputRows": p.numInputRows,
                                "batchDuration": p.batchDuration, "timestamp": p.timestamp})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)


def session_setup(workload, layers, first_start: float) -> tuple:
    """get_spark, then a noop scan of every table the workload reads and a
    Python-worker pre-fork.  Returns (spark, start_s, warm_s)."""
    from dffoo_data_pipeline_spark.session import get_spark
    from dffoo_data_pipeline_spark.sources import readers

    with layers.span("session.start"):
        spark = get_spark("perfbench")
    t1 = time.time()
    with layers.span("session.warm"):
        for t in workload.warm_tables():
            readers.load_table(spark, workload.data_dir, t).write.mode("overwrite").format("noop").save()
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        spark.range(64).repartition(cpus).mapInPandas(
            lambda it: (pdf for pdf in it), "id long"
        ).write.mode("overwrite").format("noop").save()
    t2 = time.time()
    return spark, t1 - first_start, t2 - t1


def restart(spark, workload, layers, scratch: Path, event_log: bool):
    """Stop the session and set up a new one in the same JVM, with Spark's
    event log on or off: a new SparkContext takes the JVM's `spark.*`
    system properties as its defaults."""
    from pyspark import SparkContext

    spark.stop()
    logs = scratch / "eventlog"
    logs.mkdir(exist_ok=True)
    for k, v in {"spark.eventLog.enabled": str(event_log).lower(), "spark.eventLog.dir": f"file://{logs}",
                 "spark.eventLog.compress": "false"}.items():
        SparkContext._jvm.java.lang.System.setProperty(k, v)
    spark, _, _ = session_setup(workload, layers, time.time())
    return spark


def versions(spark) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"spark": spark.version, "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def fresh_setup(args, root: Path) -> dict:
    """One more cold set-up, in a new process: interpreter start, imports,
    JVM launch, get_spark, table scans and worker pre-fork."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", "0", "--setup-only"],
        cwd=root, capture_output=True, text=True, timeout=150,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"set-up process exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "dffoo_data_pipeline_spark" / "session.py").is_file():
        print(f"error: {root} holds no dffoo_data_pipeline_spark package; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    for p in (root, root / "tools", root / "tests", HERE):
        sys.path.insert(0, str(p))
    import report
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {list(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = HERE / ".work"
    scratch = work / f"run-{os.getpid()}"
    results = work / "results"
    for stale in work.glob("run-*"):  # left by a run that was killed
        if not Path(f"/proc/{stale.name[4:]}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    results.mkdir(parents=True, exist_ok=True)
    workload = workloads.WORKLOADS[args.workload](str(scratch))
    host = configure_env(scratch, workload.spark_conf)

    tracer = Tracer() if args.trace else None
    plain = workloads.Layers()
    layers = workloads.Layers(tracer)
    if tracer is not None:
        # time the package's public layer entry points from outside:
        # patched before the plan modules bind them at import
        from dffoo_data_pipeline_spark.sources import readers, writers

        tracer.active = False
        readers.load_table = tracer.wrap("readers.load_table", readers.load_table)
        writers.write_run_stamped = tracer.wrap("writers.write_run_stamped", writers.write_run_stamped)

    g0 = time.time()
    workload.prepare(str(work / "data"), args.seed)
    gen_s = time.time() - g0

    spark = None
    if args.setup_only:
        try:
            spark, start_s, warm_s = session_setup(workload, plain, T0 + gen_s)
        finally:
            if spark is not None:
                stop_spark(spark)
        os.chdir(root)
        shutil.rmtree(scratch, ignore_errors=True)
        print(json.dumps({"start_s": start_s, "warm_s": warm_s}))
        return 0

    out = workloads.Outcome()
    ref = None  # a traced run's untraced reference passes
    phases = {}  # wall time of each part of the run, for the artifact
    try:
        spark, start_s, warm_s = session_setup(workload, plain, T0 + gen_s)
        t = time.time()
        workload.warmup(spark, plain, out)
        phases["warmup_s"] = time.time() - t
        t = time.time()
        if tracer is None:
            workload.run(spark, plain, out, args.seconds)
        else:
            # the traced passes run between two halves of untraced ones,
            # in this process on the same data, so the tracing overhead is
            # traced over untraced pass time with any warm-up trend split
            # evenly between the two
            ref = workloads.Outcome(failures=dict(out.failures))
            workload.run(spark, plain, ref, args.seconds / 2)
            tracer.active = True
            with layers.span("run"):
                spark = restart(spark, workload, layers, scratch, event_log=True)
                progress = StreamProgress(spark)
                workload.run(spark, layers, out, args.seconds)
            tracer.active = False
            spark = restart(spark, workload, plain, scratch, event_log=False)
            workload.run(spark, plain, ref, args.seconds / 2)
            out.failures.update(ref.failures)
            out.attempted += ref.attempted
        phases["run_s"] = time.time() - t
        conf = dict(spark.sparkContext.getConf().getAll())
        t = time.time()
        workload.check(spark, out)
        phases["check_s"] = time.time() - t
        vers = versions(spark)
    finally:
        t = time.time()
        if spark is not None:
            stop_spark(spark)
        phases["stop_s"] = time.time() - t
    # the other cold set-ups run after this one's JVM has exited, so
    # nothing else competes with them
    t = time.time()
    cold = [{"start_s": start_s, "warm_s": warm_s}] + [fresh_setup(args, root) for _ in range(SETUPS - 1)]
    phases["fresh_setups_s"] = time.time() - t
    starts = [c["start_s"] for c in cold]
    warms = [c["warm_s"] for c in cold]
    setups = [a + b for a, b in zip(starts, warms)]
    values, detail = report.end_to_end(out, setups)

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "data_dir": getattr(workload, "data_dir", ""), "gen_s": gen_s, "phases": phases,
        "host": {**host, "loadavg_end": os.getloadavg(), "ext_busy_per_pass": out.ext_busy,
                 "cpu_probe_s_per_pass": out.extra.get("cpu_probe_s", [])},
        "versions": vers, "spark_conf": conf,
        "setup": {"total_s": setups, "start_s": starts, "warm_s": warms},
        "checks": out.checks, "failures": out.failures,
        "samples": [s.__dict__ for s in out.samples], "pass_walls": out.pass_walls,
        "rows_per_pass": out.rows_per_pass, **detail,
        "io": out.extra.get("io", []),
    }
    if tracer is None:
        metrics = values
    else:
        import eventlog

        log = eventlog.parse([ln for f in sorted((scratch / "eventlog").iterdir())
                              for ln in eventlog.log_lines(f)])
        session = {"start_s": report.median(starts), "warm_s": report.median(warms)}
        metrics, steps = report.layer_metrics(tracer, log, host["cpus"], out, progress.batches, session)
        untraced = report.median(ref.pass_walls)
        metrics["trace.overhead"] = values["pass_s"] / untraced if untraced else 0.0
        self_times = tracer.self_times()
        run_span = next(s for s in tracer.spans if s.name == "run")
        artifact.update(layers_by_step=steps, traced_end_to_end=values,
                        untraced_pass_walls=ref.pass_walls,
                        span_self_sum_s=sum(self_times.values()), run_wall_s=run_span.dur,
                        spans=[dict(s, self_s=self_times[s["sid"]]) for s in tracer.dump()],
                        stream_progress=progress.batches)
    units = report.END_TO_END if tracer is None else report.PER_LAYER
    result = {
        "correct": not out.failures,
        "attempted": max(1, out.attempted),
        "failed": len(out.failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    artifact["metrics"] = result["metrics"]
    (results / f"{args.workload}_seed{args.seed}_trace{args.trace}.json").write_text(
        json.dumps(artifact, indent=1, default=str))
    os.chdir(root)
    shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
