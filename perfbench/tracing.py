"""Tracing for the per-layer run.

Spans are recorded around the calls into each layer's public
functions, by wrapping those functions from outside the package
(:meth:`Tracer.patch_layers`). Spark's own phases come from two JVM
sources: the query-planning tracker of every executed query (through
a ``QueryExecutionListener``) and the session's event log, which is
parsed after the session stops. Spans are kept in memory and turned
into metrics when the run ends.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

# Reader modules behind parse(); each one's public entry is timed as
# ``sources.read.<module>`` and reported as decode self time.
READERS = {
    "text": "read_delimited",
    "excel": "read_excel",
    "xmlss": "read_spreadsheetml",
    "sqlite": "read_sqlite",
    "dbf": "read_dbf",
    "avro": "read_avro",
    "htmltab": "read_html",
    "columnar": "read_json",
    "archive": "read_zip",
}

SNIFF = {
    "read_prefix": "sniff.prefix",
    "detect_encoding": "sniff.encoding",
    "sniff_delimiter": "sniff.delimiter",
    "max_columns_in_prefix": "sniff.width",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: str = ""


def self_times(spans: list) -> list:
    """Self time of every span: its duration minus the part of its
    interval that its children cover (overlapping children counted
    once, children clipped to the parent's interval)."""
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent >= 0:
            children[s.parent].append(i)
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for j in sorted(children[i], key=lambda j: spans[j].start):
            a, b = max(spans[j].start, s.start), min(spans[j].end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((s.end - s.start) - covered)
    return out


def nest(spans: list, extra: list) -> list:
    """Attach ``extra`` spans (Spark jobs, which carry no parent) under
    the innermost recorded span of the same operation that contains
    them; return the combined list. Event-log times have millisecond
    resolution, hence the tolerance."""
    combined = list(spans)
    for e in extra:
        best, best_len = -1, float("inf")
        for i, s in enumerate(spans):
            if s.op == e.op and s.start - 1e-3 <= e.start and e.end <= s.end + 1e-3:
                if s.end - s.start < best_len:
                    best, best_len = i, s.end - s.start
        combined.append(Span(e.name, e.start, e.end, best, e.op))
    return combined


class NullTracer:
    """Untraced runs: phases cost nothing and record nothing."""

    @contextlib.contextmanager
    def phase(self, op: str, phase: str):
        yield

    def count(self, key: str, value: float = 1.0) -> None:
        pass

    def op_done(self) -> None:
        pass


class Tracer(NullTracer):
    """Records spans, counters and Spark planning phases."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list = []
        self.stack: list = []
        self.counts: dict = defaultdict(float)  # summed over operations
        self.op = ""
        self.recording = False
        self._jvm = spark.sparkContext._jvm
        self._listener = None
        self._codegen = None
        self.overhead = 0.0  # seconds spent in the tracer's own calls

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.recording:
            yield
            return
        s = Span(name, time.time(), parent=self.stack[-1] if self.stack else -1,
                 op=self.op)
        self.spans.append(s)
        self.stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self.stack.pop()
            s.end = time.time()

    @contextlib.contextmanager
    def phase(self, op: str, phase: str):
        t0 = time.perf_counter()
        self.op = op
        self.spark.sparkContext.setJobGroup(f"{op}:{phase}", phase)
        before = self._codegen_count()
        self.overhead += time.perf_counter() - t0
        try:
            with self.span(f"phase.{phase}"):
                yield
        finally:
            t0 = time.perf_counter()
            if self.recording:
                self.count("codegen.compilations", self._codegen_count() - before)
            self.spark.sparkContext.setJobGroup(f"{op}:idle", "idle")
            self.overhead += time.perf_counter() - t0

    def count(self, key: str, value: float = 1.0) -> None:
        if self.recording:
            self.counts[key] += value

    def op_done(self) -> None:
        """Wait until the listener bus has delivered every event of the
        operation, so planning phases land on the right operation."""
        if self.recording:
            t0 = time.perf_counter()
            self._jvm.org.apache.spark.SparkContext.getOrCreate() \
                .listenerBus().waitUntilEmpty()
            self.overhead += time.perf_counter() - t0

    def _codegen_count(self) -> int:
        if self._codegen is None:
            metrics = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
            self._codegen = metrics.METRIC_COMPILATION_TIME()
        return int(self._codegen.getCount())

    # ---------------------------------------------------------- patching
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs in a span."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)

    def patch_layers(self) -> None:
        """Wrap each layer's public functions (package code unchanged).
        Registry callables need no wrapper: the ``construct`` phase span
        of an operators op is exactly the call into them."""
        from almost_any_file_to_pandas_spark import result, sinks
        from almost_any_file_to_pandas_spark.sources import sniff

        parse_mod = sys.modules["almost_any_file_to_pandas_spark.parse"]
        self.wrap(parse_mod, "parse", "parse.call")
        for attr, name in SNIFF.items():
            self.wrap(sniff, attr, name)
        prefix = sniff.read_prefix

        def counted_prefix(*args, **kwargs):
            out = prefix(*args, **kwargs)
            self.count("sniff.bytes", len(out))
            return out

        sniff.read_prefix = counted_prefix
        for module, attr in READERS.items():
            mod = importlib.import_module(f"almost_any_file_to_pandas_spark.sources.{module}")
            self.wrap(mod, attr, f"sources.read.{module}")
        self.wrap(sinks, "write", "sinks.write")

        fget = result.ParseResult.parse_info.fget
        tracer = self

        def parse_info(res):
            with tracer.span("result.parse_info"):
                return fget(res)

        result.ParseResult.parse_info = property(parse_info)
        self._register_listener()

    # ----------------------------------------------------- planning phases
    def _register_listener(self) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        gateway = self.spark.sparkContext._gateway
        ensure_callback_server_started(gateway)
        self._listener = _PlanningListener(self)
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None


class _PlanningListener:
    """QueryExecutionListener: adds each executed query's tracker
    phases (analysis, optimization, planning) to the current op."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        tr = self.tracer
        if not tr.recording:
            return
        t0 = time.perf_counter()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            got = phases.get(phase)
            if got.isDefined():
                tr.count(f"catalyst.{phase}_s", got.get().durationMs() / 1000.0)
        tr.overhead += time.perf_counter() - t0

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# ------------------------------------------------------------- event log

_STAGE_SUMS = {
    "internal.metrics.executorRunTime": ("exec.executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("exec.executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("exec.gc_s", 1e-3),
    "internal.metrics.input.bytesRead": ("exec.input_bytes", 1.0),
    "internal.metrics.shuffle.read.remoteBytesRead": ("exec.shuffle_read_bytes", 1.0),
    "internal.metrics.shuffle.read.localBytesRead": ("exec.shuffle_read_bytes", 1.0),
    "internal.metrics.shuffle.write.bytesWritten": ("exec.shuffle_write_bytes", 1.0),
    "internal.metrics.memoryBytesSpilled": ("exec.spill_bytes", 1.0),
    "internal.metrics.diskBytesSpilled": ("exec.spill_bytes", 1.0),
    # SQL metrics of the Arrow/Python evaluation nodes, where present
    "data sent to Python workers": ("exec.python_bytes_sent", 1.0),
    "data returned from Python workers": ("exec.python_bytes_returned", 1.0),
    "time to run Python workers": ("exec.python_run_s", 1e-3),
}

EXEC_KEYS = (
    "exec.run_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s",
    "exec.input_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.python_bytes_sent", "exec.python_bytes_returned",
    "exec.python_run_s",
)


def event_lines(log_dir: Path):
    """The JSON events of every event-log file under ``log_dir`` (a
    rolling log is a directory of ``events_<n>_<app>`` files)."""
    files = sorted(
        (p for p in Path(log_dir).rglob("*") if p.is_file()
         and (p.name.startswith("events_") or "." not in p.name)
         and not p.name.startswith("appstatus")),
        key=lambda p: (str(p.parent), int(p.name.split("_")[1])
                       if p.name.startswith("events_") else 0),
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def read_event_log(log_dir: Path):
    """Parse a Spark event log → (jobs, stage metrics).

    jobs: {job id: {"group", "start", "end" (epoch s), "stages"}};
    stages: {stage id: {metric key: value}} for completed stages.
    """
    jobs, stages = {}, {}
    for ev in event_lines(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id", ""),
                "start": ev["Submission Time"] / 1000.0,
                "end": ev["Submission Time"] / 1000.0,
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            m = defaultdict(float)
            m["exec.stages"] = 1
            m["exec.tasks"] = info.get("Number of Tasks", 0)
            if info.get("Completion Time") and info.get("Submission Time"):
                m["exec.run_s"] = (info["Completion Time"] - info["Submission Time"]) / 1000.0
            for acc in info.get("Accumulables", []):
                key = _STAGE_SUMS.get(acc.get("Name"))
                if key is not None:
                    try:
                        m[key[0]] += float(acc.get("Value", 0)) * key[1]
                    except (TypeError, ValueError):
                        pass
            stages[info["Stage ID"]] = m
    return jobs, stages


def job_metrics(jobs: dict, stages: dict):
    """Group job and stage metrics by job group ``<op>:<phase>``.

    Returns ({group: {metric: value}}, [(group, start, end)]).
    """
    by_group = defaultdict(lambda: defaultdict(float))
    owner = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        g = by_group[job["group"]]
        g["exec.jobs"] += 1
        g["exec.wall_s"] += job["end"] - job["start"]
    for sid, m in stages.items():
        jid = owner.get(sid)
        if jid is None:
            continue
        g = by_group[jobs[jid]["group"]]
        for k, v in m.items():
            g[k] += v
    intervals = [(j["group"], j["start"], j["end"]) for j in jobs.values()]
    return by_group, intervals
