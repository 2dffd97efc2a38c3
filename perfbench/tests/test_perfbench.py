"""Tests for the benchmark's own code: generator determinism, output
verification, self-time arithmetic and the tail-percentile rule.

Run with ``python -m pytest perfbench/tests``.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

import gen
import run
import stats
from tracing import Span, nest, self_times

SF_DIR = Path(run.SF_DIR)
needs_testdata = pytest.mark.skipif(
    not SF_DIR.is_dir(), reason="sf0.1 testdata not present"
)


def _corpus(out: Path, seed: int) -> dict:
    gen.generate(out, seed, SF_DIR)
    return {
        p.name: p.read_bytes() for p in sorted(out.iterdir())
    }


@needs_testdata
def test_generator_is_deterministic_per_seed(tmp_path):
    a = _corpus(tmp_path / "a", 7)
    b = _corpus(tmp_path / "b", 7)
    c = _corpus(tmp_path / "c", 8)
    assert a == b
    assert a["manifest.json"] != c["manifest.json"]
    files = json.loads(a["manifest.json"])["files"]
    assert [f["format"] for f in files] == [c[1] for c in gen.CORPUS]


def test_cell_crc_is_row_order_insensitive_and_column_sensitive():
    rows = [[1, "a", 2.5], [3, "b", 4.0]]
    assert gen.cell_crc(rows) == gen.cell_crc(rows[::-1])
    assert gen.cell_crc(rows) != gen.cell_crc([[r[1], r[0], r[2]] for r in rows])
    # a typed number and its text spelling are the same cell
    assert gen.cell_crc([[17, 2.5]]) == gen.cell_crc([["17", "2.50"]])


def test_tail_rule_keeps_ten_samples_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (90, 90.0, 100)
    value, pct, n = stats.tail(list(range(1, 12)))  # 11 samples
    assert (value, pct, n) == (1, 100.0 / 11, 11)
    with pytest.raises(ValueError):
        stats.tail(list(range(10)))


def test_self_time_subtracts_children_once():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6
        Span("c", 8.0, 12.0, parent=0),  # clipped to 8..10
        Span("leaf", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 2, 3 - 1, 3, 4, 1])


def test_jobs_nest_under_innermost_span_of_their_op():
    spans = [
        Span("phase.construct", 0.0, 10.0, op="x"),
        Span("sources.read.text", 1.0, 5.0, parent=0, op="x"),
        Span("phase.construct", 20.0, 30.0, op="y"),
    ]
    jobs = [Span("spark.job", 2.0, 3.0, op="x"), Span("spark.job", 21.0, 22.0, op="y")]
    combined = nest(spans, jobs)
    assert [s.parent for s in combined[3:]] == [1, 2]
    assert self_times(combined)[1] == pytest.approx(3.0)


@pytest.fixture(scope="module")
def spark():
    from almost_any_file_to_pandas_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    session = get_spark("perfbench-tests")
    yield session
    session.stop()


def _ingest(spark, entries, out: Path) -> dict:
    """parse + parquet write of every entry, as the ingest op does;
    returns {path: [(rows, cols, crc)]} read back from the parquet."""
    import verify
    from almost_any_file_to_pandas_spark import parse, write

    got = {}
    for e in entries:
        results = parse(spark, e["path"])
        assert all(r.ok for r in results)
        written = [write(r.data, out / f"{Path(e['path']).name}_{i}.parquet", mode="overwrite")
                   for i, r in enumerate(results)]
        got[e["path"]] = [verify.parquet_print(Path(p)) for p in written]
    return got


@needs_testdata
def test_verification_passes_then_catches_corruption(spark, tmp_path):
    import verify

    entries = gen.generate(tmp_path / "in", 3, SF_DIR)
    txt = next(e for e in entries if e["format"] == "txt")
    avro = next(e for e in entries if e["format"] == "avro")
    out = tmp_path / "out"
    assert verify.compare([txt, avro], _ingest(spark, [txt, avro], out)) == []

    # one changed cell in the tab-delimited file
    path = Path(txt["path"])
    lines = path.read_text().splitlines()
    cells = lines[1].split("\t")
    cells[0] = cells[0] + "9"
    lines[1] = "\t".join(cells)
    path.write_text("\n".join(lines) + "\n")
    errors = verify.compare([txt], _ingest(spark, [txt], out))
    assert len(errors) == 1 and path.name in errors[0]

    # a manifest that expects one row more than the file holds
    wrong = dict(avro, results=[dict(r, rows=r["rows"] + 1) for r in avro["results"]])
    errors = verify.compare([wrong], _ingest(spark, [avro], out))
    assert len(errors) == 1 and "avro" in errors[0]
