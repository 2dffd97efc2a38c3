"""Benchmark of the ``parse()`` façade and the operator registry.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ingest --seed 1 \\
        --seconds 10 --trace 0

Workloads: ``ingest`` and ``operators`` (see
BENCHMARK.json for why each exists). One driver thread issues the
operations one after another (a closed loop, one client) against
Spark ``local[<cores>]``.

A run: set up (import, ``plans.load_all``, ``get_spark``, one warm-up
operation: ``setup_s``), generate the seeded inputs (separate process,
timed apart), then timed passes over the operation list in
seed-permuted order until ``--seconds`` have elapsed (at least two).
The first pass is the first execution of every operation in the
session, as a user's batch meets it; the second meets them warm. Each operation's first output is then checked, off the
timed path. ``--trace 1`` runs the same workload with spans around
every layer and Spark's event log on, and reports per-layer metrics
instead of end-to-end ones.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Files are written only under ``.perfbench_work/`` in the
repository root: a run's own directory, removed at exit, and the
prints of the expected operator outputs, kept per code and data state.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import resource
import shlex
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ingest", "operators")
CACHE_DIR = ROOT / ".perfbench_work"
# User-facing metrics whose run-to-run spread on a 4-core box exceeds
# their bound: reported by the traced run as per-layer "demoted.<name>".
DEMOTED = ("op_p50_s", "op_tail_s", "jvm_peak_rss_mb")

# Testdata location, as bench.py reads it (TESTDATA.md). Ingest corpora
# are cut from sf0.1; registry queries run on sf0.01 so that a pass fits
# a run (a pass at sf0.1 takes minutes on four cores).
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERY_SF_DIR = str(Path(SF_DIR).parent / "sf0.01")
# The package's default driver heap (24g) exceeds the RAM of a 15 GiB
# machine; 4g holds every workload here.
DRIVER_MEM = "4g"
WARMUP_QUERY = "q1_pricing_summary"
# The first pass meets every operation cold, the second warm; timing
# both and reporting medians over passes halves the weight of the
# order-dependent cold costs.
MIN_PASSES = 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path, trace: bool) -> None:
    """Spark settings that must be in place before the JVM starts."""
    for d in ("spark-local", "tmp", "eventlog", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={work / 'eventlog'}",
            "spark.eventLog.compress=false",
        ]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(c)}" for c in confs
        ) + " pyspark-shell",
    })
    sys.path[1:1] = [str(ROOT), str(ROOT / "tools")]


def print_environment(spark) -> None:
    import duckdb
    import pyspark

    jdk = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    print(f"environment jdk={jdk} pyspark={pyspark.__version__} "
          f"duckdb={duckdb.__version__} master={spark.sparkContext.master} "
          f"driver_memory={DRIVER_MEM} local_dirs={os.environ['SPARK_LOCAL_DIRS']}")


@dataclass
class Context:
    """What an operation needs: the session, the sinks module and the
    testdata directory the registry queries read."""

    spark: object
    sinks: object
    sf_dir: str


def _warm_batches(batches):
    import almost_any_file_to_pandas_spark  # noqa: F401 - warm the worker's imports

    yield from batches


def warm_up(spark, work: Path) -> None:
    """The set-up's warm-up operation: the flagship registry query
    written to parquet, then one Python worker per core, each importing
    the package. Without it the first operation of a pass pays for
    query compilation, the parquet writer and worker start, and the
    seeded order decides which operation that is."""
    from almost_any_file_to_pandas_spark import plans

    plans.QUERIES[WARMUP_QUERY](spark, QUERY_SF_DIR).write.mode("overwrite").parquet(
        str(work / "warmup.parquet"))
    spark.range(cores(), numPartitions=cores()).mapInPandas(
        _warm_batches, schema="id long"
    ).write.format("noop").mode("overwrite").save()


def set_up(work: Path):
    """Import, plans.load_all, get_spark, one warm-up operation → timings."""
    t0 = time.perf_counter()
    from almost_any_file_to_pandas_spark import plans, sinks
    from almost_any_file_to_pandas_spark.session import get_spark

    t1 = time.perf_counter()
    plans.load_all()
    t2 = time.perf_counter()
    spark = get_spark("perfbench")
    t3 = time.perf_counter()
    warm_up(spark, work)
    t4 = time.perf_counter()
    timings = {
        "setup_s": t4 - t0,
        "import_s": t1 - t0,
        "plans.load_s": t2 - t1,
        "session.start_s": t3 - t2,
        "session.warmup_s": t4 - t3,
    }
    return spark, sinks, timings


def build_ops(workload: str, outputs: Path, manifest):
    from workloads import IngestOp, operator_ops

    if workload == "operators":
        return operator_ops(QUERY_SF_DIR)
    return [IngestOp(Path(e["path"]).name, e["path"], e["bytes"], outputs)
            for e in manifest]


def timed_passes(ctx, ops, seconds: float, rng: random.Random, tr, stats):
    """Round-robin passes in seed-permuted order until ``seconds`` have
    elapsed, and at least MIN_PASSES. Every op runs once per pass.
    Returns pass walls, op latencies and each op's first output."""
    walls, samples, outputs = [], [], {}
    start = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - start < seconds:
        order = list(ops)
        rng.shuffle(order)
        t_pass = time.perf_counter()
        for op in order:
            stats["attempted"] += 1
            t0 = time.perf_counter()
            try:
                out = op.run(ctx, tr)
            except Exception as exc:  # noqa: BLE001 - a failed op is reported, not fatal
                first_line = (str(exc).splitlines() or [""])[0][:300]
                stats["errors"].append(f"{op.name}: {type(exc).__name__}: {first_line}")
            else:
                samples.append(time.perf_counter() - t0)
                outputs.setdefault(op.name, out)
            print(f"op {op.name} {time.perf_counter() - t0:.3f}")
            tr.op_done()
        walls.append(time.perf_counter() - t_pass)
    return walls, samples, outputs


def state_key() -> str:
    """Hash of the code and testdata that fix the expected operator
    outputs: the package, the operation list, DuckDB's version and the
    table sizes."""
    import duckdb

    h = hashlib.sha256(duckdb.__version__.encode())
    for p in sorted((ROOT / "almost_any_file_to_pandas_spark").rglob("*.py")) + [
            HERE / "workloads.py"]:
        h.update(p.read_bytes())
    for p in sorted(Path(QUERY_SF_DIR).glob("*.parquet")):
        h.update(f"{p.name}:{p.stat().st_size}".encode())
    return h.hexdigest()[:16]


def check_outputs(ctx, workload: str, ops, manifest, outputs) -> list:
    """Off the timed path: check every op's first output."""
    from workloads import check_ingest, check_operators

    if workload == "operators":
        cache = CACHE_DIR / f"expected-{state_key()}.json"
        return check_operators(ctx, ops, outputs, cache)
    by_path = {op.path: outputs[op.name] for op in ops if op.name in outputs}
    return check_ingest([e for e in manifest if e["path"] in by_path], by_path)


def _descendants() -> dict:
    """{pid: cumulative CPU seconds} of this process and every process
    below it (the Spark JVM and its Python workers); a process's CPU
    includes its reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)] = int(fields[1])
        cpu[int(entry)] = sum(int(x) for x in fields[11:15]) / tick
    root, mine = os.getpid(), {}
    for pid in cpu:
        p = pid
        while p not in (0, 1, root) and p in parent:
            p = parent[p]
        if p == root:
            mine[pid] = cpu[pid]
    return mine


def tree_cpu_s() -> float:
    return sum(_descendants().values())


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb(spark) -> tuple:
    driver = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm = 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return driver, jvm


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process they
    started (Python workers included) has exited."""
    from pyspark import SparkContext

    started = set(_descendants()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p for p in started if _running(p)}
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run_metrics(setup, walls, samples, pass_bytes, rss, cpu) -> dict:
    """The user-facing metrics of one run: {name: (value, unit)}."""
    from stats import median, tail

    wall = median(walls)
    tail_v, tail_p, n = tail(samples)
    print(f"op_tail_s is p{tail_p:.1f} of {n} samples; "
          f"{len(walls)} passes, walls {[round(w, 3) for w in walls]}")
    return {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (wall, "s"),
        "cpu_s": (cpu, "s"),
        "op_p50_s": (median(samples), "s"),
        "op_tail_s": (tail_v, "s"),
        "ingest_mb_s": (pass_bytes / 1e6 / wall, "MB/s"),
        "driver_peak_rss_mb": (rss[0], "MB"),
        "jvm_peak_rss_mb": (rss[1], "MB"),
    }


def run(args, work: Path) -> dict:
    pin_environment(work, args.trace)
    inputs, outputs = work / "inputs", work / "outputs"
    outputs.mkdir(parents=True, exist_ok=True)
    spark, sinks, setup = set_up(work)
    print("setup " + " ".join(f"{k}={v:.3f}" for k, v in setup.items()))
    print_environment(spark)
    manifest = []
    if args.workload != "operators":
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, str(HERE / "gen.py"),
             "--seed", str(args.seed), "--out", str(inputs), "--sf-dir", SF_DIR],
            check=True,
        )
        from gen import load_manifest

        manifest = load_manifest(inputs)
        print(f"generate_s {time.perf_counter() - t0:.3f} "
              f"({len(manifest)} files, {sum(e['bytes'] for e in manifest)} bytes)")
    from tracing import NullTracer, Tracer

    ctx = Context(spark, sinks, QUERY_SF_DIR)
    ops = build_ops(args.workload, outputs, manifest)
    tracer = Tracer(spark) if args.trace else NullTracer()
    if args.trace:
        tracer.patch_layers()
        tracer.recording = True
    stats = {"attempted": 0, "errors": []}
    rng = random.Random(args.seed)
    t_start, cpu0 = time.time(), tree_cpu_s()
    walls, samples, firsts = timed_passes(ctx, ops, args.seconds, rng, tracer, stats)
    t_end, cpu = time.time(), (tree_cpu_s() - cpu0) / len(walls)
    tracer.recording = False
    rss = peak_rss_mb(spark)
    t0 = time.perf_counter()
    stats["errors"] += check_outputs(ctx, args.workload, ops, manifest, firsts)
    print(f"check_s {time.perf_counter() - t0:.3f}")
    failed = len(stats["errors"])
    pass_bytes = sum(op.nbytes for op in ops)
    user = run_metrics(setup, walls, samples, pass_bytes, rss, cpu)
    if args.trace:
        import layers

        tracer.close()
        stop_spark(spark)
        metrics = layers.per_layer(
            tracer, work / "eventlog", (t_start, t_end), len(walls), setup,
            args.workload, pass_bytes, outputs, cores(),
        )
        metrics["trace.wall_s"] = user["wall_s"]
        metrics.update({f"demoted.{k}": user[k] for k in DEMOTED})
    else:
        stop_spark(spark)
        metrics = {k: v for k, v in user.items() if k not in DEMOTED}

    for e in stats["errors"]:
        print(f"FAILED {e}")
    print(f"error_rate {failed / stats['attempted']:.4f} "
          f"({failed} of {stats['attempted']})")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    return {
        "correct": failed == 0,
        "attempted": stats["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="parse() and operator benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "almost_any_file_to_pandas_spark").is_dir():
        print("perfbench: package almost_any_file_to_pandas_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    work = CACHE_DIR / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
