"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the lines before it print the same metrics by name and unit,
the fail ratio, the oracle checks and the host readings. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` turns on Spark's event log and
the benchmark's spans and reports the per-layer metrics, plus the tracing
overhead against the latest untraced run of the same workload.

Everything the run writes stays under ``.perfbench/`` in the checkout: the
per-run work directory is removed at the end, the run record (and, traced,
the spans) are kept in ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("cdc_tail", "cdc_backfill", "query_mix")
#: set-ups per run; setup_s is their median
SETUP_REPS = 3
WARMUP_ROWS = 2000


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Python workers import the package from this checkout; temporary
    files stay inside it; the driver heap fits a small box."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the short-lived JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    from perfbench.tracing import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap is committed and touched at start, so peak RSS
        # does not depend on when the collector grows the heap
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData"  # no hsperfdata file outside the checkout
        ),
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return conf


def _warm_up(spark, warm_dir: str, out: str) -> None:
    """One batch pass of the CDC composition: starts the Python workers of
    the source, the Avro encoder and the sink."""
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
    from mysql_streamer_spark.connectors.avro_wire import envelope_to_avro
    from mysql_streamer_spark.connectors.python_source import events_from_python_source

    wire = envelope_to_avro(envelope_pipeline_df(events_from_python_source(spark, warm_dir)))
    wire.write.format("manifest_sink").option("path", out).mode("overwrite").save()


def set_up(work: str, trace: bool, spans) -> tuple[object, list[float]]:
    """Start the session ``SETUP_REPS`` times (the JVM stays up after the
    first): session start, source and sink registration, warm-up."""
    from perfbench import feed
    from perfbench.host import usable_cpus

    from mysql_streamer_spark.connectors.manifest_sink import register_manifest_sink
    from mysql_streamer_spark.connectors.python_source import register_binlog_source
    from mysql_streamer_spark.session import get_spark

    warm_dir = os.path.join(work, "warm")
    feed.write_feed(warm_dir, 0, WARMUP_ROWS, 2)
    conf = _session_conf(work, trace)
    spark, times = None, []
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with spans.span("setup", rep=rep):
            spark = get_spark("perfbench", cpus=usable_cpus(), extra_conf=conf)
            spark.sparkContext.setJobGroup("setup", "benchmark set-up")
            register_binlog_source(spark)
            register_manifest_sink(spark)
            _warm_up(spark, warm_dir, os.path.join(work, f"warm_out{rep}"))
        times.append(time.perf_counter() - t0)
    spark.sparkContext.setJobGroup("idle", "")
    return spark, times


def shut_down(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _latest_untraced(workload: str, seconds: float) -> dict | None:
    """The newest untraced record of ``workload`` measured for ``seconds``."""
    paths = glob.glob(os.path.join(STATE, "records", f"{workload}-seed*-trace0.json"))
    for path in sorted(paths, key=os.path.getmtime, reverse=True):
        with open(path) as fh:
            record = json.load(fh)
        if record["seconds"] == seconds:
            return record
    return None


def main(argv: list[str]) -> int:
    args = _parse(argv)
    # import the benchmark as a package from the checkout root, never its
    # modules as top-level names from the script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    try:
        import mysql_streamer_spark  # noqa: F401
    except ModuleNotFoundError as exc:
        print(f"perfbench: the program is not in this checkout: {exc}", file=sys.stderr)
        return 2

    from perfbench import host, metrics, workloads
    from perfbench.tracing import EventLog, Spans

    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    records = os.path.join(STATE, "records")
    os.makedirs(records, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    trace = bool(args.trace)
    spans = Spans(enabled=trace)
    spark = None
    try:
        spark, setup_times = set_up(work, trace, spans)
        recorder = workloads.StreamRecorder()
        spark.streams.addListener(recorder)
        ctx = workloads.Context(spark, work, args.seed, args.seconds, spans, recorder)
        window = host.HostWindow()
        res = getattr(workloads, args.workload)(ctx)
        host_record = window.close()
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss_mb = host.peak_rss_mb([os.getpid(), jvm_pid])
        app_id = spark.sparkContext.applicationId
        spark.streams.removeListener(recorder)
        shut_down(spark)
        spark = None

        e2e = metrics.end_to_end(res, statistics.median(setup_times), rss_mb)
        if trace:
            events = EventLog(os.path.join(work, "eventlog"), app_id)
            reported = metrics.per_layer(res, events, e2e["wall_s"])
            units = metrics.PER_LAYER
        else:
            reported, units = e2e, metrics.END_TO_END

        correct = bool(res.checks.get("ok")) and res.failed == 0
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "correct": correct,
            "attempted": res.attempted,
            "failed": res.failed,
            "setup_times_s": setup_times,
            "end_to_end": e2e,
            "diagnostics": metrics.diagnostics(res),
            "metrics": reported,
            "checks": res.checks,
            "host": host_record,
            "rounds": res.rounds,
            "lags_s": res.lags,
            "first_commits_s": res.first_commits,
            "queries": res.queries,
        }
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        untraced = _latest_untraced(args.workload, args.seconds) if trace else None
        with open(os.path.join(records, f"{stem}.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        if trace:
            spans.write(os.path.join(records, f"spans-{stem}.jsonl"))
    finally:
        if spark is not None:
            shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(res.rounds)} rounds")
    for name, value in reported.items():
        print(f"  {name:36s} {value:14.4f} {units[name]}")
    print(f"  {'fail_ratio':36s} {res.failed / max(res.attempted, 1):14.4f} "
          f"({res.failed}/{res.attempted})")
    diag = record["diagnostics"]
    print(f"  commit_lag_p90_s {diag['commit_lag_p90_s']:.4f} s over "
          f"{diag['commit_lag_samples']} lags (diagnostic: too few samples to report); "
          f"first_commit_s over {diag['first_commit_samples']} stream starts")
    if untraced is not None:
        base = untraced["end_to_end"]["wall_s"]
        print(f"  tracing overhead on wall_s: {100.0 * (e2e['wall_s'] - base) / base:+.1f}% "
              f"(untraced seed {untraced['seed']}: {base:.4f} s)")
    print(f"  checks {json.dumps(res.checks, default=str)}")
    print(f"  host {json.dumps(host_record)}")
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in reported.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
