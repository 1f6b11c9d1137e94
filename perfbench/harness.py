"""Turns one benchmark JVM's raw per-op records into the reported metrics.

Pure functions only, so tests/test_harness.py can check them without Spark.
"""
import statistics

CORES = 2

WORKLOADS = ("rules", "chain")

END_TO_END = [
    ("wall_s", "s"),
    ("task_cpu_s", "s"),
    ("cache_peak_mb", "MB"),
    ("setup_s", "s"),
]

PIPELINE_STAGES = ("ingest_extract", "dedup", "gates", "funnel", "sample",
                   "write_shards", "datacard")

# per-op layer numbers the JVM records in traced ops (absent ones read 0)
_OP_LAYERS = [
    ("dq_wide_s", "s"), ("dq_rows_s", "s"),
    ("rules.load_s", "s"), ("rules.build_s", "s"),
    ("rules.runner_s", "s"), ("rules.engine_s", "s"), ("rules.folder_s", "s"),
    ("rules.stats_s", "s"),
    ("plan.analysis_s", "s"), ("plan.optimizer_s", "s"), ("plan.physical_s", "s"),
    ("plans.graft_rules_s", "s"),
    ("codegen.classes", "count"), ("codegen.compile_s", "s"), ("codegen.source_kb", "KB"),
] + [(f"pipeline.{s}_{k}", u) for s in PIPELINE_STAGES for k, u in (("s", "s"), ("jobs", "count"))] + [
    ("pipeline.stage_raw_s", "s"),
]

# per-op totals the always-on listener records in every op
_OP_TOTALS = [
    ("exec.jobs", "jobs", "count"), ("exec.stages", "stages", "count"),
    ("exec.tasks", "tasks", "count"),
    ("exec.task_run_s", "task_run_s", "s"), ("exec.task_cpu_s", "task_cpu_s", "s"),
    ("exec.gc_s", "gc_s", "s"),
    ("exec.shuffle_write_mb", "shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "shuffle_read_mb", "MB"),
    ("exec.spill_mb", "spill_mb", "MB"),
    ("codegen.wscg_fallbacks", "wscg_fallbacks", "count"),
    ("storage.cache_left_mb", "cache_left_mb", "MB"),
]

PER_LAYER = (
    [(n, u) for n, u in _OP_LAYERS]
    + [(n, u) for n, _, u in _OP_TOTALS]
    + [("exec.driver_gap_s", "s"),
       ("rules.cold_probe_ok", "bool"), ("rules.cold_probe_s", "s"),
       ("setup.warmup_s", "s"), ("trace.overhead_s", "s")]
)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them; a single
    sample is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def driver_gap_s(wall_s, task_run_s, cores=CORES):
    """Wall time the cores were not busy with tasks: wall − task time ÷ cores."""
    return wall_s - task_run_s / cores


def failure_counts(result):
    """(attempted, failed) over the warm-up and the timed ops; the cold
    probe is reported as a layer metric, not as an op."""
    ops = [result["warmup"]] + list(result["ops"])
    return len(ops), sum(1 for o in ops if not o["ok"])


def problems(result):
    ops = [result["warmup"]] + list(result["ops"])
    return [f"op {o['i']}: {p}" for o in ops for p in o["problems"]]


def _stat(xs, unit):
    q1, q2, q3 = quartiles(xs)
    return {"value": q2, "unit": unit, "q1": q1, "q3": q3, "n": len(xs)}


def setup_s(result):
    """JVM start, session, inputs and the warm-up op: everything before the
    first timed op except the cold probe and the warm-up's output check."""
    return result["setup_s"] + result["warmup"]["wall_s"]


def end_to_end(result):
    ops = [o for o in result["ops"] if o["ok"] and not o["traced"]]
    if not ops:
        raise ValueError("no successful untraced op")
    return {
        "wall_s": _stat([o["wall_s"] for o in ops], "s"),
        "task_cpu_s": _stat([o["task_cpu_s"] for o in ops], "s"),
        "cache_peak_mb": _stat([o["cache_peak_mb"] for o in ops], "MB"),
        "setup_s": _stat([setup_s(result)], "s"),
    }


def per_layer(result):
    ok = [o for o in result["ops"] if o["ok"]]
    traced = [o for o in ok if o["traced"]]
    untraced = [o for o in ok if not o["traced"]]
    if not traced or not untraced:
        raise ValueError("a traced run needs traced and untraced ops")
    out = {}
    for name, unit in _OP_LAYERS:
        out[name] = _stat([o["layers"].get(name, 0.0) for o in traced], unit)
    for name, key, unit in _OP_TOTALS:
        out[name] = _stat([o[key] for o in traced], unit)
    out["exec.driver_gap_s"] = _stat(
        [driver_gap_s(o["wall_s"], o["task_run_s"]) for o in traced], "s")
    probe = result.get("cold_probe")
    out["rules.cold_probe_ok"] = {"value": (1 if probe["ok"] else 0) if probe else 0, "unit": "bool"}
    out["rules.cold_probe_s"] = {"value": probe["s"] if probe else 0.0, "unit": "s"}
    out["setup.warmup_s"] = {"value": result["warmup"]["wall_s"], "unit": "s"}
    out["trace.overhead_s"] = {
        "value": median([o["wall_s"] for o in traced]) - median([o["wall_s"] for o in untraced]),
        "unit": "s"}
    return out


def result_line(result, trace):
    """The benchmark's last stdout line, plus the fuller report (quartiles
    and sample counts) that goes to the report file. When no op succeeded
    there is nothing to measure: the line then has no metrics, is not
    correct, and still counts the failed ops."""
    attempted, failed = failure_counts(result)
    try:
        report = per_layer(result) if trace else end_to_end(result)
    except ValueError:
        report = {}
    line = {
        "correct": bool(report) and not problems(result),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in report.items()},
    }
    return line, report
