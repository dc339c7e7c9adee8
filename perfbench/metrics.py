"""Reduce a workload's measurements to the metrics the benchmark reports.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced run, which also carries the Spark event log. Per-batch figures are
medians over the measured micro-batches; Spark accounting is summed over the
measured work and divided by the number of rounds, so it reads per round.
"""

from __future__ import annotations

import statistics

from perfbench.workloads import QUERY_FAMILIES, Result

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "commit_lag_p50_s": "s",
    "first_commit_s": "s",
    "peak_rss_mb": "MiB",
}

_PHASES = {
    "python_source.latest_offset_ms": "latestOffset",
    "python_source.get_batch_ms": "getBatch",
    "manifest_sink.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}
_ENGINE = (
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "shuffle_write_bytes",
    "shuffle_fetch_wait_ms",
)

PER_LAYER = {
    "python_source.latest_offset_ms": "ms",
    "python_source.get_batch_ms": "ms",
    "python_source.read_tasks": "count",
    "cdc.build_ms": "ms",
    "cdc.admitted_ratio": "ratio",
    "avro_wire.python_ms": "ms",
    "avro_wire.bytes_per_msg": "bytes",
    "manifest_sink.add_batch_ms": "ms",
    "manifest_sink.parts_per_batch": "count",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    **{f"engine.{name}": ("bytes" if "bytes" in name else "ms") for name in _ENGINE},
    "queries.build_s": "s",
    "queries.exec_s": "s",
    **{
        f"queries.{fam}.{part}": "s"
        for fam in QUERY_FAMILIES
        for part in ("build_s", "exec_s")
    },
    "trace.wall_s": "s",
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 1]); 0.0 when empty."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(res: Result, setup_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "wall_s": _median(r["wall_s"] for r in res.rounds),
        "rows_per_s": sum(r["rows"] for r in res.rounds)
        / sum(r["busy_s"] for r in res.rounds),
        "commit_lag_p50_s": percentile(res.lags, 0.5),
        "first_commit_s": _median(res.first_commits),
        "peak_rss_mb": rss_mb,
    }


def diagnostics(res: Result) -> dict[str, float]:
    """Printed beside the metrics, not reported: a run has about ten commit
    lags, so its p90 has fewer than ten samples beyond it."""
    return {
        "commit_lag_p90_s": percentile(res.lags, 0.9),
        "commit_lag_samples": len(res.lags),
        "first_commit_samples": len(res.first_commits),
    }


def per_layer(res: Result, events, wall_s: float) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    out = {name: 0.0 for name in PER_LAYER}
    rounds = max(len(res.rounds), 1)
    for name, phase in _PHASES.items():
        out[name] = _median(b["phases"].get(phase, 0) for b in res.batches)
    stream_runs = {b["run"] for b in res.batches}
    per_batch = events.batches(stream_runs)
    out["python_source.read_tasks"] = _median(b["widest_stage_tasks"] for b in per_batch)
    out["streaming.jobs_per_batch"] = _median(b["jobs"] for b in per_batch)
    out["streaming.tasks_per_batch"] = _median(b["tasks"] for b in per_batch)
    out["cdc.build_ms"] = _median(res.build_ms)
    if res.build_ms:  # the CDC workloads, whose sink counts envelope rows
        rows_in = sum(b["rows"] for b in res.batches)
        rows_out = sum(b["out_rows"] for b in res.batches)
        out["cdc.admitted_ratio"] = rows_out / rows_in if rows_in else 0.0
        out["avro_wire.bytes_per_msg"] = res.checks.get("bytes_per_msg", 0.0)
        out["manifest_sink.parts_per_batch"] = _median(_parts_per_batch(res.sink_dirs))
    out["avro_wire.python_ms"] = (
        events.node_metric(res.groups, "MapInArrow", "time to run Python workers")
        / rounds
    )
    totals = events.task_totals(res.groups)
    for name in _ENGINE:
        out[f"engine.{name}"] = totals.get(name, 0.0) / rounds
    if res.queries:
        passes: dict[int, list[dict]] = {}
        for q in res.queries:
            passes.setdefault(q["pass"], []).append(q)
        for part in ("build_s", "exec_s"):
            out[f"queries.{part}"] = _median(
                sum(q[part] for q in qs) for qs in passes.values()
            )
            for fam in QUERY_FAMILIES:
                out[f"queries.{fam}.{part}"] = _median(
                    sum(q[part] for q in qs if q["family"] == fam)
                    for qs in passes.values()
                )
    out["trace.wall_s"] = wall_s
    return out


def _parts_per_batch(sink_dirs: list[str]) -> list[int]:
    from mysql_streamer_spark.connectors.manifest_sink import (
        latest_version,
        read_manifest,
    )

    counts = []
    for path in sink_dirs:
        for version in range(1, latest_version(path) + 1):
            counts.append(len(read_manifest(path, version)["files"]))
    return counts
