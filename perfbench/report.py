"""Turns one run's operation records into the printed metrics and the
per-run record under ``perfbench/results/``."""

from __future__ import annotations

import glob
import importlib
import json
import os
import time

from .stats import check_metrics, highest_percentile, median, metric
from .workloads import WORKLOADS

SPLIT = ("addBatch", "queryPlanning", "walCommit", "commitOffsets")
EVENT_FIELDS = ("jobs", "cpu_ms", "run_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes")


def _triggers(records) -> list[dict]:
    return [t for r in records for s in r["streams"] for t in s["triggers"]]


def _share(part, whole) -> float:
    return part / whole if whole else 0.0


# per-call values behind the per-operation metrics
OP_VALUES = {
    "jobs": lambda rec, groups: rec["jobs"],
    "shuffle_write_bytes": lambda rec, groups: groups[rec["group"]]["shuffle_write_bytes"],
    "calls_per_s": lambda rec, groups: 1 / rec["seconds"],
    "features_per_s": lambda rec, groups: rec["records"] / rec["seconds"],
    "triggers": lambda rec, groups: len(_triggers([rec])),
    "input_rows": lambda rec, groups: sum(t["rows"] for t in _triggers([rec])),
    "rows_per_s": lambda rec, groups: sum(t["rows"] for t in _triggers([rec])) / rec["seconds"],
    "state_commit_share": lambda rec, groups: _share(
        sum(t["state_commit_ms"] for t in _triggers([rec])),
        sum(t["duration_ms"].get("triggerExecution", 0) for t in _triggers([rec])),
    ),
}

# Per-layer metrics every workload prints. Times are kept only where
# every workload measures them; a layer-specific number is a count, a
# rate or a share, so that a layer a workload does not load reads 0
# without posing as a measured time.
COMMON_UNITS = {
    "plans.get_spark.s": "s",
    "trace.setup_s": "s",
    "trace.pass_s": "s",
    "cache.cache_publish.setup_share": "ratio",
    "registry.checkpoint_df.calls": "count",
    "sinks.files.upsert_parquet.calls": "count",
    "sinks.files.upsert_parquet.share": "ratio",
    "streaming.jobs.replay_events_as_stream.share": "ratio",
    "streaming.jobs.run_to_memory.share": "ratio",
    "streaming.triggers": "count",
    "streaming.triggers_per_s": "1/s",
    **{f"streaming.{k}_share": "ratio" for k in SPLIT},
    "streaming.state_commit_share": "ratio",
    "streaming.state_memory_bytes": "B",
    "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_share": "ratio",
    "spark.jobs": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.pinned_mb": "MB",
}


def install_wrappers(wrappers, wl) -> None:
    for module, attr in wl.traced:
        mod = importlib.import_module(f"ukis_kafka_spark.{module}")
        wrappers.install(mod, attr, f"{module}.{attr}")


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric of every workload: name -> unit."""
    units = dict(COMMON_UNITS)
    for cls in WORKLOADS.values():
        for name in cls.names:
            for suffix, unit in cls.op_metrics:
                units[f"{cls.modules[name]}.{name}.{suffix}"] = unit
        units.update(getattr(cls, "codec_units", {}))
    return units


def _layer_metrics(wl, records, passes, setup_s, pinned, wrappers, event_log) -> dict:
    units = layer_metric_units()
    vals = dict.fromkeys(units, 0.0)
    n_pass, pass_total = len(passes), sum(passes)

    for module, attr in wl.traced:
        key = f"{module}.{attr}"
        calls, secs = wrappers.total(key, measured=True)
        if key == "plans.get_spark":
            vals["plans.get_spark.s"] = wrappers.total(key, measured=False)[1]
        elif key == "cache.cache_publish":
            vals[f"{key}.setup_share"] = wrappers.total(key, measured=False)[1] / setup_s
        elif key == "registry.checkpoint_df":
            vals[f"{key}.calls"] = calls / n_pass
        else:
            vals[f"{key}.share"] = secs / pass_total
            if f"{key}.calls" in vals:
                vals[f"{key}.calls"] = calls / n_pass

    trig = _triggers(records)
    if trig:
        total_ms = sum(t["duration_ms"].get("triggerExecution", 0) for t in trig)
        vals["streaming.triggers"] = len(trig) / n_pass
        vals["streaming.triggers_per_s"] = len(trig) / (total_ms / 1000)
        for k in SPLIT:
            vals[f"streaming.{k}_share"] = sum(t["duration_ms"].get(k, 0) for t in trig) / total_ms
        vals["streaming.state_commit_share"] = sum(t["state_commit_ms"] for t in trig) / total_ms
        vals["streaming.state_memory_bytes"] = median(
            [max((t["state_memory_bytes"] for t in s["triggers"]), default=0)
             for r in records for s in r["streams"]]
        )

    groups = read_groups(event_log, records) if event_log else {}
    for name in wl.names:
        mine = [r for r in records if r["op"] == name]
        for suffix, _ in wl.op_metrics:
            vals[f"{wl.modules[name]}.{name}.{suffix}"] = median(
                [OP_VALUES[suffix](r, groups) for r in mine]
            )
    spark_total = {k: sum(g[k] for g in groups.values()) for k in EVENT_FIELDS}
    vals["spark.jobs"] = spark_total["jobs"] / n_pass
    vals["spark.executor_cpu_ms"] = spark_total["cpu_ms"] / n_pass
    vals["spark.jvm_gc_share"] = _share(spark_total["gc_ms"], spark_total["run_ms"])
    vals["spark.shuffle_write_bytes"] = spark_total["shuffle_write_bytes"] / n_pass
    vals["spark.spill_bytes"] = spark_total["spill_bytes"] / n_pass
    vals.update(getattr(wl, "codec_metrics", dict)())
    vals["spark.pinned_mb"] = pinned
    vals["trace.setup_s"] = setup_s
    vals["trace.pass_s"] = median(passes)
    return {k: metric(v, units[k]) for k, v in vals.items()}


def read_groups(event_log: str, records) -> dict[str, dict]:
    """Event-log totals per measured operation call: its own job group
    plus the job groups (runIds) of the streaming queries it started."""
    from .trace import read_event_log

    path = event_log if os.path.exists(event_log) else event_log + ".inprogress"
    by_group = read_event_log(path)
    out = {}
    for r in records:
        parts = [by_group.get(g, {}) for g in [r["group"]] + [s["run_id"] for s in r["streams"]]]
        out[r["group"]] = {k: sum(p.get(k, 0) for p in parts) for k in EVENT_FIELDS}
    return out


def _with_tail(name: str, values, unit: str) -> dict:
    """Median plus the highest percentile the samples support, each
    with its sample count."""
    out = {f"{name}_p50": (median(values), unit, len(values))}
    tail = highest_percentile(values)
    if tail is not None:
        q, v = tail
        out[f"{name}_p{q:g}"] = (v, unit, len(values))
    return out


def build(wl, args, records, passes, setup_s, pinned, tracker, wrappers, event_log) -> dict:
    attempted = len(records)
    failed = sum(1 for r in records if r["error"])
    times = [r["seconds"] for r in records]
    summary = {
        "failed_frac": (failed / attempted, "ratio", attempted),
        "pinned_mb": (pinned, "MB", 1),
        "setup_s": (setup_s, "s", 1),
        "pass_s": (median(passes), "s", len(passes)),
    }
    summary.update({k: (v, u, len(passes)) for k, (v, u) in wl.summary(records, passes).items()})
    summary.update(_with_tail("op_s", times, "s"))
    trig = [t["duration_ms"].get("triggerExecution", 0) for t in _triggers(records)]
    if trig:
        summary.update(_with_tail("trigger_ms", trig, "ms"))
    if args.trace:
        metrics = _layer_metrics(wl, records, passes, setup_s, pinned, wrappers, event_log)
    else:
        metrics = {"setup_s": metric(setup_s, "s"), "pass_s": metric(median(passes), "s")}
    check_metrics(metrics)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "setup_s": setup_s,
        "passes_s": passes,
        "summary": summary,
        "operations": records,
        "spans": [s.__dict__ for s in wrappers.spans],
        "unattributed_stream_events": tracker.unattributed,
        "contract": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def tracing_overhead(results_dir: str, result: dict) -> tuple[float, int] | None:
    """Traced pass time against the median untraced pass time of the
    earlier untraced runs of the same workload: (fraction, n runs)."""
    untraced = []
    for path in glob.glob(os.path.join(results_dir, f"{result['workload']}-trace0-*.json")):
        with open(path) as fh:
            untraced.append(median(json.load(fh)["passes_s"]))
    if not untraced:
        return None
    return median(result["passes_s"]) / median(untraced) - 1, len(untraced)


def print_human(result: dict) -> None:
    c = result["contract"]
    h = result["host"]
    print(
        f"# {result['workload']} seed={result['seed']} trace={result['trace']} "
        f"cpus={h['cpus_affinity']} spark={h['spark']} python={h['python']} "
        f"loadavg {h['loadavg_before'][0]:.2f} -> {h['loadavg_after'][0]:.2f}"
    )
    for rec in result["operations"]:
        if rec["error"]:
            print(f"FAILED {rec['op']}: {rec['error']}")
    print(f"operations: {c['attempted']} attempted, {c['failed']} failed, "
          f"{len(result['passes_s'])} passes")
    for name, (v, unit, n) in result["summary"].items():
        print(f"{name:32s} {v:14.4f} {unit:6s} n={n}")
    if result["trace"]:
        over = result["tracing_overhead"]
        if over is None:
            print("tracing overhead: no untraced run of this workload recorded yet")
        else:
            print(f"tracing overhead: {over[0]:+.1%} pass time vs median of {over[1]} untraced runs")
        for name, m in c["metrics"].items():
            print(f"{name:48s} {m['value']:16.4f} {m['unit']}")


def write_record(results_dir: str, result: dict) -> str:
    os.makedirs(results_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(
        results_dir,
        f"{result['workload']}-trace{result['trace']}-seed{result['seed']}-{stamp}-{os.getpid()}.json",
    )
    with open(path, "x") as fh:  # never overwrite an earlier record
        json.dump(result, fh, indent=1, default=str)
    return path

