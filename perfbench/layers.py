"""Per-layer metrics of a traced run, per pass of the workload.

Sums over the traced passes are divided by the pass count; ratios are
taken of the sums. A layer the workload does not touch reads 0.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

from tracing import EXEC_KEYS, READERS, SNIFF, Span, job_metrics, nest, \
    read_event_log, self_times

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.load_s": "s",
    "codegen.compilations": "count",
    "parse.call_s": "s",
    "parse.results": "count",
    "parse.ok_ratio": "ratio",
    **{f"{name}_s": "s" for name in SNIFF.values()},
    "sniff.bytes_read_per_file_byte": "ratio",
    "result.parse_info_s": "s",
    **{f"sources.decode_s.{m}": "s" for m in READERS},
    "sources.driver_jobs": "count",
    "sinks.write_s": "s",
    "sinks.bytes_out_per_byte_in": "ratio",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.python_bytes_sent": "bytes",
    "exec.python_bytes_returned": "bytes",
    "exec.python_run_s": "s",
    "exec.core_utilisation": "ratio",
    "trace.overhead_s": "s",
}


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def span_sums(spans: list) -> tuple:
    """({name: total duration}, {name: total self time}), counting a
    ``parse.call`` only at the top level (nested container members
    are part of their parent's call)."""
    selfs = self_times(spans)
    dur, own = defaultdict(float), defaultdict(float)
    for s, st in zip(spans, selfs):
        if s.name == "parse.call" and s.parent >= 0 and spans[s.parent].name == "parse.call":
            continue
        dur[s.name] += s.end - s.start
        own[s.name] += st
    return dur, own


def per_layer(tracer, eventlog_dir: Path, window, passes: int, setup: dict,
              workload: str, pass_bytes: int,
              outputs: Path, n_cores: int) -> dict:
    jobs, stages = read_event_log(eventlog_dir)
    t0, t1 = window
    jobs = {j: v for j, v in jobs.items() if t0 <= v["start"] and v["end"] <= t1}
    groups, intervals = job_metrics(jobs, stages)
    job_spans = [
        Span("spark.job", start, end, op=group.rsplit(":", 1)[0])
        for group, start, end in intervals
    ]
    dur, own = span_sums(nest(tracer.spans, job_spans))

    counts = tracer.counts
    ex = defaultdict(float)
    construct_jobs = 0.0
    for group, m in groups.items():
        for k, v in m.items():
            ex[k] += v
        if group.endswith(":construct"):
            construct_jobs += m["exec.jobs"]

    ingest = workload != "operators"
    per = 1.0 / passes
    out_bytes = _dir_bytes(outputs) if ingest else 0
    m = {
        "session.start_s": setup["session.start_s"],
        "session.warmup_s": setup["session.warmup_s"],
        "plans.load_s": setup["plans.load_s"],
        "codegen.compilations": counts["codegen.compilations"] * per,
        "parse.call_s": dur["parse.call"] * per,
        "parse.results": counts["parse.results"] * per,
        "parse.ok_ratio": counts["parse.ok"] / counts["parse.results"]
        if counts["parse.results"] else 0.0,
        **{f"{name}_s": own[name] * per for name in SNIFF.values()},
        "sniff.bytes_read_per_file_byte": counts["sniff.bytes"] / counts["file.bytes"]
        if counts["file.bytes"] else 0.0,
        "result.parse_info_s": dur["result.parse_info"] * per,
        **{f"sources.decode_s.{mod}": own[f"sources.read.{mod}"] * per for mod in READERS},
        "sources.driver_jobs": construct_jobs * per if ingest else 0.0,
        "sinks.write_s": dur["sinks.write"] * per,
        "sinks.bytes_out_per_byte_in": out_bytes / pass_bytes if out_bytes else 0.0,
        "plans.construct_s": 0.0 if ingest else dur["phase.construct"] * per,
        "plans.construct_jobs": 0.0 if ingest else construct_jobs * per,
        "catalyst.analysis_s": counts["catalyst.analysis_s"] * per,
        "catalyst.optimization_s": counts["catalyst.optimization_s"] * per,
        "catalyst.planning_s": counts["catalyst.planning_s"] * per,
        **{k: ex[k] * per for k in EXEC_KEYS},
        "exec.core_utilisation": ex["exec.executor_run_s"] / (ex["exec.wall_s"] * n_cores)
        if ex["exec.wall_s"] else 0.0,
        "trace.overhead_s": tracer.overhead * per,
    }
    return {k: (m[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}
