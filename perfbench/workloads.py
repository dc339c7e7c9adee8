"""The benchmark's workloads.

Each workload drives the program through its public functions only, measures
rounds until ``--seconds`` is used up, then checks its outputs against an
oracle outside the timed region. A round is the workload's unit of work:

- ``cdc_tail``: one arrival. A new part file of ``TAIL_ARRIVAL_BATCHES``
  batches lands in the feed, the stream restarts from its checkpoint, drains
  the file in paced micro-batches of ``TAIL_BATCH_ROWS`` and stops. Closed
  loop: one stream, each batch starts when the previous one has committed.
- ``cdc_backfill``: one drain of the whole multi-file feed by the
  executor-parallel reader under ``availableNow``, into a fresh checkpoint.
- ``query_mix``: one pass over ``QUERY_MIX`` in a seed-permuted order, each
  query built, forced through the noop sink and its cache cleared.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import feed, oracle
from perfbench.tracing import Spans

TAIL_BATCH_ROWS = 1000
#: micro-batches per arrival in cdc_tail
TAIL_ARRIVAL_BATCHES = 4
#: unmeasured arrivals first: the stream path's batch time falls for about
#: three restarts while the JVM compiles it, then levels off
TAIL_WARM_ARRIVALS = 3
TAIL_MAX_ARRIVALS = 24
BACKFILL_ROWS = 200_000
BACKFILL_FILES = 10
BACKFILL_WARM_ROWS = 2000
QUERY_MIX_ROWS = 20_000
#: unmeasured passes after the oracle pass, which is the first warm-up
QUERY_MIX_WARM_PASSES = 1

#: The median and the slowest query, by the 8-core timings of the committed
#: BENCH_DETAIL.json, of each family whose queries read only the ``events``
#: table. ``streaming`` keeps only its slowest query: its median queries take
#: 5-12 s each on 4 cores, more than a run can spend on one query.
QUERY_MIX = (
    "analytics_events_hourly",
    "analytics_cogroup_asof",
    "cdc_txn_order_invariant",
    "cdc_debezium_roundtrip",
    "schema_registry_avro_schemas",
    "schema_registry_column_lifetimes",
    "sketch_kmv_distinct",
    "sketch_ams_f2",
    "streaming_ddl_barrier",
)
QUERY_FAMILIES = ("analytics", "cdc", "schema", "sketch", "streaming")


def family(query: str) -> str:
    return query.split("_", 1)[0]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamRecorder(StreamingQueryListener):
    """Start time and micro-batch progress of every stream in the session,
    keyed by run id (which is also the job group of the stream's jobs)."""

    def __init__(self) -> None:
        self.started: dict[str, float] = {}
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        with self._lock:
            self.started[str(event.runId)] = _epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress[p["runId"]].append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.terminated.add(str(event.runId))

    def runs_since(self, known: set[str]) -> set[str]:
        with self._lock:
            return set(self.started) - known

    def wait_terminated(self, run_ids: set[str], timeout: float = 60.0) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if run_ids <= self.terminated:
                    return
            time.sleep(0.01)
        raise TimeoutError(f"streams never reported termination: {run_ids}")

    def batches(self, run_id: str) -> list[dict]:
        """The micro-batches of one stream run that carried input rows."""
        with self._lock:
            progress = list(self.progress.get(run_id, ()))
        out = []
        for p in progress:
            if p["numInputRows"] <= 0:
                continue
            sink = p.get("sink") or {}
            out.append(
                {
                    "run": run_id,
                    "batch": p["batchId"],
                    "rows": p["numInputRows"],
                    "out_rows": sink.get("numOutputRows", -1),
                    "start": _epoch(p["timestamp"]),
                    "te_ms": p["durationMs"].get("triggerExecution", 0),
                    "phases": dict(p["durationMs"]),
                }
            )
        return sorted(out, key=lambda b: b["batch"])

    def first_commit_s(self, run_id: str) -> float | None:
        """Stream start to the end of its first committed data batch."""
        batches = self.batches(run_id)
        if not batches or run_id not in self.started:
            return None
        first = batches[0]
        return first["start"] + first["te_ms"] / 1000.0 - self.started[run_id]


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    spans: Spans
    recorder: StreamRecorder


@dataclass
class Result:
    """What a workload measured, before it is reduced to metrics."""

    rounds: list[dict] = field(default_factory=list)
    #: micro-batches of the measured rounds (first batch of a restart included)
    batches: list[dict] = field(default_factory=list)
    #: steady-state commit lags in seconds (restart batches excluded)
    lags: list[float] = field(default_factory=list)
    first_commits: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    #: job groups of the measured work (stream run ids, query groups)
    groups: set[str] = field(default_factory=set)
    build_ms: list[float] = field(default_factory=list)
    queries: list[dict] = field(default_factory=list)
    sink_dirs: list[str] = field(default_factory=list)


#: rounds every run measures, however slow the host: a median of one round
#: would carry the noise of a single sample
MIN_ROUNDS = 2


def measure(seconds: float, one_round) -> list[dict]:
    """Run rounds while the next one is predicted to end within ``seconds``,
    and at least ``MIN_ROUNDS``."""
    rounds: list[dict] = []
    t0 = time.perf_counter()
    while True:
        rounds.append(one_round(len(rounds)))
        elapsed = time.perf_counter() - t0
        if len(rounds) >= MIN_ROUNDS and elapsed + elapsed / len(rounds) > seconds:
            return rounds


def _stream_round(ctx: Context, res: Result, sf_dir: str, out: str, ckpt: str,
                  partitioned: bool, measured: bool, **span_attrs) -> dict:
    """Build the program's CDC composition as one stream, start it, drain what
    the feed holds and stop. A stream that dies counts as one failed batch;
    the next round restarts from the checkpoint and replays it."""
    from pyspark.errors import StreamingQueryException

    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
    from mysql_streamer_spark.connectors.avro_wire import envelope_to_avro
    from mysql_streamer_spark.connectors.python_source import (
        stream_events_from_python_source,
    )

    with ctx.spans.span("round", **span_attrs):
        t0 = time.perf_counter()
        with ctx.spans.span("cdc.build"):
            events = stream_events_from_python_source(
                ctx.spark, sf_dir, batch_rows=TAIL_BATCH_ROWS, partitioned=partitioned
            )
            wire = envelope_to_avro(envelope_pipeline_df(events))
        build_ms = (time.perf_counter() - t0) * 1000.0
        writer = (
            wire.writeStream.format("manifest_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
        )
        if partitioned:
            writer = writer.trigger(availableNow=True)
        with ctx.spans.span("stream.start"):
            query = writer.start()
        try:
            with ctx.spans.span("stream.drain"):
                if partitioned:
                    query.awaitTermination()
                else:
                    query.processAllAvailable()
        except StreamingQueryException:
            traceback.print_exc()
            res.failed += 1
            res.attempted += 1
        finally:
            with ctx.spans.span("stream.stop"):
                query.stop()
        wall = time.perf_counter() - t0

    run_id = str(query.runId)
    ctx.recorder.wait_terminated({run_id})
    batches = ctx.recorder.batches(run_id)
    for b in batches:
        span = ctx.spans.add(
            "stream.batch", b["start"], b["start"] + b["te_ms"] / 1000.0,
            run=run_id, batch=b["batch"], rows=b["rows"],
        )
        at = b["start"]
        for phase in ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                      "walCommit", "commitOffsets"):
            ms = b["phases"].get(phase)
            if ms is not None:
                ctx.spans.add(f"stream.{phase}", at, at + ms / 1000.0, cause=span)
                at += ms / 1000.0
    rnd = {
        "run": run_id,
        "out": out,
        "wall_s": wall,
        "batches": len(batches),
        "rows": sum(b["rows"] for b in batches),
        # summed triggerExecution of the round's micro-batches
        "busy_s": sum(b["te_ms"] for b in batches) / 1000.0,
        "first_commit_s": ctx.recorder.first_commit_s(run_id),
    }
    if measured:
        res.build_ms.append(build_ms)
        res.groups.add(run_id)
        res.batches += batches
        res.attempted += len(batches)
        # the paced reader's first batch after a restart is the restart
        # penalty, reported as first_commit_s, not as a commit lag
        steady = batches if partitioned else batches[1:]
        res.lags += [b["te_ms"] / 1000.0 for b in steady]
        if rnd["first_commit_s"] is not None:
            res.first_commits.append(rnd["first_commit_s"])
    return rnd


def cdc_tail(ctx: Context) -> Result:
    res = Result()
    arrival_rows = TAIL_BATCH_ROWS * TAIL_ARRIVAL_BATCHES
    # every arrival is staged up front; a round moves the next one into the
    # feed, which is what the reader sees when the stream restarts
    staged = os.path.join(ctx.work, "tail_staged")
    bounds = [
        i * arrival_rows for i in range(TAIL_WARM_ARRIVALS + TAIL_MAX_ARRIVALS + 1)
    ]
    feed.write_parts(feed.feed_table(ctx.seed, bounds[-1]), staged, bounds)
    sf_dir = os.path.join(ctx.work, "tail")
    feed_dir = os.path.join(sf_dir, "events.parquet")
    os.makedirs(feed_dir)
    out, ckpt = os.path.join(ctx.work, "tail_out"), os.path.join(ctx.work, "tail_ckpt")
    res.sink_dirs.append(out)
    arrived = 0

    def arrival(i: int, measured: bool) -> dict:
        nonlocal arrived
        if i >= len(bounds) - 1:
            raise RuntimeError("cdc_tail ran out of staged arrivals")
        name = f"part-{i:05d}.parquet"
        os.rename(os.path.join(staged, name), os.path.join(feed_dir, name))
        arrived += bounds[i + 1] - bounds[i]
        return _stream_round(ctx, res, sf_dir, out, ckpt, partitioned=False,
                             measured=measured, workload="cdc_tail", arrival=i)

    # the first arrivals warm the stream path; they are checked, not timed
    for i in range(TAIL_WARM_ARRIVALS):
        arrival(i, measured=False)
    res.rounds = measure(
        ctx.seconds, lambda i: arrival(TAIL_WARM_ARRIVALS + i, measured=True)
    )
    with ctx.spans.span("oracle"):
        res.checks = oracle.check_cdc(ctx, out, feed_dir)
        res.checks["arrived_rows"] = arrived
    res.attempted += 1
    res.failed += 0 if res.checks["ok"] else 1
    return res


def cdc_backfill(ctx: Context) -> Result:
    res = Result()
    sf_dir = os.path.join(ctx.work, "backfill")
    feed_dir = feed.write_feed(sf_dir, ctx.seed, BACKFILL_ROWS, BACKFILL_FILES)
    warm_dir = os.path.join(ctx.work, "backfill_warm")
    feed.write_feed(warm_dir, ctx.seed + 1, BACKFILL_WARM_ROWS, 2)

    def drain(src: str, i: int, measured: bool) -> dict:
        out = os.path.join(ctx.work, f"backfill_out{i}")
        ckpt = os.path.join(ctx.work, f"backfill_ckpt{i}")
        if measured:
            res.sink_dirs.append(out)
        return _stream_round(ctx, res, src, out, ckpt, partitioned=True,
                             measured=measured, workload="cdc_backfill", drain=i)

    # a drain of a small feed warms the stream path; it is not timed
    drain(warm_dir, 0, measured=False)
    res.rounds = measure(ctx.seconds, lambda i: drain(sf_dir, i + 1, measured=True))
    with ctx.spans.span("oracle"):
        # the last drain is decoded and compared row by row; every other
        # drain must have committed exactly the feed
        res.checks = oracle.check_cdc(ctx, res.rounds[-1]["out"], feed_dir)
        short = [r["rows"] for r in res.rounds[:-1] if r["rows"] != BACKFILL_ROWS]
        if short:
            res.checks["ok"] = False
            res.checks["short_drains"] = short
    res.attempted += 1
    res.failed += 0 if res.checks["ok"] else 1
    return res


def query_mix(ctx: Context) -> Result:
    from mysql_streamer_spark.queries import all_specs

    res = Result()
    sf_dir = os.path.join(ctx.work, "mix")
    feed_dir = feed.write_feed(sf_dir, ctx.seed, QUERY_MIX_ROWS, 4)
    specs = {s.name: s for s in all_specs()}
    missing = [q for q in QUERY_MIX if q not in specs]
    if missing:
        raise KeyError(f"query_mix names unregistered queries: {missing}")
    order = list(QUERY_MIX)
    random.Random(ctx.seed).shuffle(order)
    spark = ctx.spark
    sc = spark.sparkContext

    # the oracle pass comes first: it is outside the timed region and
    # leaves the JVM warm for the measured passes
    with ctx.spans.span("oracle"):
        sc.setJobGroup("oracle", "query_mix oracle pass")
        res.checks = oracle.check_queries(ctx, [specs[q] for q in order], sf_dir,
                                          feed_dir)
    res.attempted += len(order)
    res.failed += len(res.checks["mismatched"]) + len(res.checks["raised"])

    def one_pass(i: int, measured: bool = True) -> dict:
        queries = []
        runs_before = set(ctx.recorder.started)
        tag = i if measured else f"warm{i}"
        with ctx.spans.span("round", workload="query_mix", rep=tag):
            t_pass = time.perf_counter()
            for name in order:
                group = f"query_mix:{tag}:{name}"
                known = set(ctx.recorder.started)
                sc.setJobGroup(group, name)
                rec = {"name": name, "family": family(name), "pass": i,
                       "group": group}
                t0 = t1 = t2 = time.perf_counter()
                try:
                    with ctx.spans.span("query.build", query=name):
                        df = specs[name].fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    with ctx.spans.span("query.exec", query=name):
                        df.write.mode("overwrite").format("noop").save()
                    t2 = time.perf_counter()
                except Exception:  # a raised query is a failed operation
                    traceback.print_exc()
                    res.failed += 1
                    rec["raised"] = True
                finally:
                    spark.catalog.clearCache()
                t3 = time.perf_counter()
                rec.update(build_s=t1 - t0, exec_s=t2 - t1, clear_s=t3 - t2,
                           wall_s=t3 - t0)
                rec["runs"] = sorted(ctx.recorder.runs_since(known))
                queries.append(rec)
            wall = time.perf_counter() - t_pass
        run_ids = ctx.recorder.runs_since(runs_before)
        ctx.recorder.wait_terminated(run_ids)
        res.attempted += len(queries)
        # every query scans the events feed at least once
        rows = QUERY_MIX_ROWS * len(queries)
        rnd = {"wall_s": wall, "queries": len(queries), "streams": len(run_ids),
               "rows": rows, "busy_s": wall}
        if not measured:
            return rnd
        res.groups |= {q["group"] for q in queries}
        res.groups |= run_ids
        batches = [b for r in sorted(run_ids) for b in ctx.recorder.batches(r)]
        res.batches += batches
        res.lags += [b["te_ms"] / 1000.0 for b in batches]
        res.first_commits += [
            fc for r in sorted(run_ids)
            if (fc := ctx.recorder.first_commit_s(r)) is not None
        ]
        res.queries += queries
        return rnd

    try:
        for i in range(QUERY_MIX_WARM_PASSES):
            one_pass(i, measured=False)
        res.rounds = measure(ctx.seconds, one_pass)
    finally:
        sc.setJobGroup("idle", "")
    return res
