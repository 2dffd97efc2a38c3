"""How readers hand their rows to Spark.

Every reader uses one of two Arrow forms (``sources/rangescan.py``):
an executor scan (``Range → MapInPandas``) for rows the driver does not
hold, or ``createDataFrame`` over an object-dtype pandas frame
(``LocalTableScan``) for a grid the driver already holds. These tests
pin that shape per format, the exactness of BIGINT values the object
frames carry, and the T1/T4 text trims against Python's ``str.strip``.
"""

from __future__ import annotations

import ast
import json
import sqlite3
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.parse import parse
from almost_any_file_to_pandas_spark.sources.avro import (
    read_avro_frame,
    synth_avro,
)
from almost_any_file_to_pandas_spark.sources.text import (
    cells_expr,
    strip_quote_runs,
)
from tests.test_dbf_source import _make_dbf
from tests.test_reader_status import _executed_plan

BIG = 2**60 + 1  # not representable in float64


@pytest.fixture()
def arrow_on(spark):
    """The engine conf (``session.apply_engine_conf``) that routes
    ``createDataFrame(pandas)`` through Arrow; restored afterwards."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    yield spark
    spark.conf.set(key, old)


# ---- exact BIGINT through the executor scans --------------------------------


def test_sqlite_range_keeps_bigint_next_to_null(spark, tmp_path):
    path = tmp_path / "big.db"
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (n INTEGER)")
    # rowids 1..2k: every two-row range holds a NULL and BIG
    k = spark.sparkContext.defaultParallelism
    con.executemany(
        "INSERT INTO t (rowid, n) VALUES (?, ?)",
        [(i, None if i % 2 else BIG) for i in range(1, 2 * k + 1)],
    )
    con.commit()
    con.close()
    df = parse(spark, path)[0].data
    assert df.rdd.getNumPartitions() == k
    got = [r.n for r in df.collect()]
    assert got == [None, BIG] * k


def test_dbf_range_keeps_bigint_next_to_null(spark, tmp_path):
    # 2k records: every two-record range holds a blank (NULL) and BIG
    k = spark.sparkContext.defaultParallelism
    path = tmp_path / "big.dbf"
    path.write_bytes(
        _make_dbf(
            [("N", "N", 20, 0)],
            [[" " * 20], [str(BIG).rjust(20)]] * k,
        )
    )
    df = parse(spark, path)[0].data
    assert df.rdd.getNumPartitions() == k
    assert [r.N for r in df.collect()] == [None, BIG] * k


def test_avro_nullable_long_keeps_bigint_next_to_null(spark, tmp_path):
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "n", "type": ["null", "long"]}],
    }
    path = tmp_path / "big.avro"
    path.write_bytes(synth_avro(schema, [(None,), (BIG,), (None,)]))
    df = read_avro_frame(spark, path)  # one block → one task
    assert df.rdd.getNumPartitions() == 1
    assert [r.n for r in df.collect()] == [None, BIG, None]


# ---- plan shape per format ---------------------------------------------------


def _grid_files(d: Path, spark) -> list:
    import pandas as pd

    files = []
    spark.createDataFrame([(1, "a")], "id int, s string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / "t.parquet"))
    spark.createDataFrame([(1, "a")], "id int, s string").coalesce(1).write.mode(
        "overwrite"
    ).orc(str(d / "t.orc"))
    files += [d / "t.parquet", d / "t.orc"]
    (d / "t.json").write_text(json.dumps([{"a": 1, "b": "x"}]))
    (d / "t.jsonl").write_text('{"a": 1}\n{"a": 2}\n')
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_pickle(d / "t.pk1")
    pd.DataFrame({"a": [1, 2]}).to_feather(d / "t.feather")
    (d / "t.html").write_text("<table><tr><td>a</td><td>1</td></tr></table>")
    files += [d / f for f in ("t.json", "t.jsonl", "t.pk1", "t.feather", "t.html")]
    con = sqlite3.connect(d / "t.db")
    con.execute("CREATE TABLE r (n INTEGER, s TEXT)")
    con.execute("CREATE TABLE w (k TEXT PRIMARY KEY, v INTEGER) WITHOUT ROWID")
    con.executemany("INSERT INTO r VALUES (?, ?)", [(1, "a"), (2, "b")])
    con.executemany("INSERT INTO w VALUES (?, ?)", [("a", 1), ("b", 2)])
    con.commit()
    con.close()
    (d / "t.dbf").write_bytes(_make_dbf([("N", "N", 4, 0)], [["   1"], ["   2"]]))
    schema = {"type": "record", "name": "r", "fields": [{"name": "n", "type": "long"}]}
    (d / "t.avro").write_bytes(synth_avro(schema, [(1,), (2,)]))
    with zipfile.ZipFile(d / "t.zip", "w") as z:
        z.writestr("inner.txt", "a\tb\nc\td\n")
    files += [d / f for f in ("t.db", "t.dbf", "t.avro", "t.zip")]
    return files


@pytest.mark.parametrize(
    "fixture",
    [
        "txt_file",
        "csv_semicolon_file",
        "ant_file",
        "ini_file",
        "cp1251_csv_file",
        "xlsx_file",
        "ods_file",
        "xlsb_file",
        "xls_file",
        "xmlss_file",
        "xmlss_bare_file",
        "csv_gz_file",
        "txt_bz2_file",
        "jsonl_gz_file",
    ],
)
def test_fixture_formats_use_an_arrow_handoff(arrow_on, request, fixture):
    _assert_arrow_handoff(arrow_on, request.getfixturevalue(fixture))


def test_inline_formats_use_an_arrow_handoff(arrow_on, tmp_path):
    for path in _grid_files(tmp_path, arrow_on):
        _assert_arrow_handoff(arrow_on, path)


def _assert_arrow_handoff(spark, path):
    results = parse(spark, path)
    assert results and all(r.ok for r in results), (path, results)
    for r in results:
        plan = _executed_plan(r.data)
        assert "BatchScan" not in plan, (path, plan)
        assert "Scan ExistingRDD" not in plan, (path, plan)
        assert r.data.count() > 0


# ---- no other hand-off in sources/ ------------------------------------------


def _handoff_offenders(sources: Path) -> set:
    """``.parallelize(``, ``dataSource.register(`` and
    ``createDataFrame`` over a non-empty Python row list (a literal, a
    comprehension, or a name bound to one in the same function)."""
    rows_like = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp)

    def is_rows(node, bound) -> bool:
        if isinstance(node, (ast.List, ast.Tuple)):
            return bool(node.elts)
        if isinstance(node, rows_like):
            return True
        return isinstance(node, ast.Name) and node.id in bound

    offenders = set()
    for path in sorted(sources.glob("*.py")):
        tree = ast.parse(path.read_text())
        scopes = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for scope in [tree, *scopes]:
            bound = {
                t.id
                for n in ast.walk(scope)
                if isinstance(n, ast.Assign) and is_rows(n.value, set())
                for t in n.targets
                if isinstance(t, ast.Name)
            }
            for n in ast.walk(scope):
                if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                    continue
                attr, owner = n.func.attr, n.func.value
                if (
                    attr == "parallelize"
                    or (
                        attr == "register"
                        and isinstance(owner, ast.Attribute)
                        and owner.attr == "dataSource"
                    )
                    or (attr == "createDataFrame" and n.args and is_rows(n.args[0], bound))
                ):
                    offenders.add(f"{path.name}:{n.lineno}")
    return offenders


def test_sources_have_no_other_handoff():
    import almost_any_file_to_pandas_spark.sources as sources

    offenders = _handoff_offenders(Path(sources.__file__).parent)
    assert not offenders, sorted(offenders)


def test_handoff_lint_flags_each_form(tmp_path):
    (tmp_path / "bad.py").write_text(
        "def f(spark, sc, grid):\n"
        "    sc.parallelize([1])\n"
        "    spark.dataSource.register(X)\n"
        "    spark.createDataFrame([(1,)], 'a int')\n"
        "    spark.createDataFrame([tuple(r) for r in grid], 's')\n"
        "    rows = [tuple(r) for r in grid]\n"
        "    spark.createDataFrame(rows, 's')\n"
        "    spark.createDataFrame([], 's')\n"
    )
    assert _handoff_offenders(tmp_path) == {f"bad.py:{i}" for i in (2, 3, 4, 5, 7)}


# ---- T1 / T4 trims match Python's str.strip ---------------------------------


@pytest.mark.parametrize(
    "line",
    [
        'a\tx"\u2028',  # Java's regex $ also matched before U+2028
        "a\tb\t\u0085",  # ... and before U+0085
        '\t\t"q"\t"\'r\'" \t',
        "\ta\t\t",
    ],
)
def test_trims_match_python_strip(spark, line):
    ref = [c.strip('"').strip("'") for c in line.strip("\t").split("\t")]
    df = spark.createDataFrame([(line,)], "value string")
    cells = df.select(cells_expr(F.col("value"), "\t").alias("c")).first().c
    got = [
        spark.createDataFrame([(c,)], "v string")
        .select(strip_quote_runs(F.col("v")).alias("v"))
        .first()
        .v
        for c in cells
    ]
    assert got == ref


def test_parse_keeps_quote_and_tab_before_line_separators(spark, tmp_path):
    p = tmp_path / "seps.txt"
    p.write_text('a\tx"\u2028\nb\tc\t\u0085\n', encoding="utf-8")
    got = [list(r) for r in parse(spark, p)[0].data.collect()]
    assert got == [["a", 'x"\u2028', ""], ["b", "c", "\u0085"]]
