"""Reader-decided ``parse_info`` and the shuffle-free range scans.

Readers that already hold evidence on the driver (rowid bounds, a
probed DBF record, Avro block counts, a sheet's pre-scanned width, a
driver-side grid or pandas frame) set the status at ``parse()`` time.
For each of them, on ordinary and degenerate fixtures, the status must
equal the reference rule — ``'Failed'`` iff the frame is empty — and
reading it must start no Spark job. The text arm keeps the lazy
``isEmpty()`` and serves as the control that the job count works.

The sqlite, dbf and corpus (``*_many``) scans run one task per spec
over ``spark.range``; their executed plans hold no ``Exchange``.

Also here: the two sniffing defects found by the benchmark corpus — a
cut last line of the prefix voting for the tab fallback, and ASCII
``.ant`` rows detected as ``shift_jis_2004``.
"""

from __future__ import annotations

import io
import json
import random
import sqlite3
import struct
import uuid

import pytest

from almost_any_file_to_pandas_spark.parse import parse
from almost_any_file_to_pandas_spark.sources import sniff
from almost_any_file_to_pandas_spark.sources.rangescan import (
    MAX_RANGES,
    split_range,
)


def _status_and_jobs(spark, result):
    """(parse_info, ids of the Spark jobs that reading it started)."""
    sc = spark.sparkContext
    group = f"status-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read parse_info")
    try:
        status = result.parse_info
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return status, list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_reader_status(spark, results):
    """Every result's status is known without a job and matches the
    frame's emptiness. Returns the statuses in order."""
    statuses = []
    for r in results:
        status, jobs = _status_and_jobs(spark, r)
        assert jobs == [], (r.sheet_name, r.engine)
        assert status == ("Failed" if r.data.isEmpty() else "OK"), (
            r.sheet_name,
            r.engine,
        )
        statuses.append(status)
    return statuses


def test_lazy_text_status_is_the_job_count_control(spark, tmp_path):
    p = tmp_path / "lazy.csv"
    p.write_text("a;b\nc;d\n")
    (res,) = parse(spark, str(p))
    status, jobs = _status_and_jobs(spark, res)
    assert status == "OK" and jobs  # isEmpty() ran as a job


# ---- sqlite ---------------------------------------------------------------


def test_sqlite_status_from_bounds_and_driver_rows(spark, tmp_path):
    path = tmp_path / "status.sqlite"
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE full_t (a INTEGER, b TEXT)")
    con.executemany("INSERT INTO full_t VALUES (?,?)", [(1, "x"), (2, "y")])
    con.execute("CREATE TABLE empty_t (a INTEGER)")
    con.execute("CREATE TABLE emptied_t (a INTEGER)")
    con.execute("INSERT INTO emptied_t VALUES (1)")
    con.execute("DELETE FROM emptied_t")
    con.execute(
        "CREATE TABLE kv_empty (k TEXT PRIMARY KEY, v INTEGER) WITHOUT ROWID"
    )
    con.execute(
        "CREATE TABLE kv_full (k TEXT PRIMARY KEY, v INTEGER) WITHOUT ROWID"
    )
    con.execute("INSERT INTO kv_full VALUES ('a', 1)")
    con.commit()
    con.close()
    results = parse(spark, str(path))
    statuses = dict(
        zip([r.sheet_name for r in results], _assert_reader_status(spark, results))
    )
    assert statuses == {
        "emptied_t": "Failed",
        "empty_t": "Failed",
        "full_t": "OK",
        "kv_empty": "Failed",
        "kv_full": "OK",
    }


# ---- dbf ------------------------------------------------------------------


def _dbf(records, n_records=None, deleted=(), tail=b"\x1a"):
    """One 4-char C field; ``n_records`` overrides the header count."""
    header_size = 32 + 32 + 1
    head = struct.pack(
        "<B3BIHH20x",
        0x03, 24, 1, 1,
        len(records) if n_records is None else n_records,
        header_size,
        5,
    )
    descr = b"V".ljust(11, b"\x00") + b"C" + b"\x00" * 4 + bytes([4, 0]) + b"\x00" * 14
    body = b"".join(
        (b"*" if i in deleted else b" ") + r.encode("ascii")
        for i, r in enumerate(records)
    )
    return head + descr + b"\x0d" + body + tail


_DBF_CASES = {
    "live": (_dbf(["aaaa", "bbbb"]), "OK"),
    "first_deleted": (_dbf(["aaaa", "bbbb"], deleted={0}), "OK"),
    "all_deleted": (_dbf(["aaaa", "bbbb", "cccc"], deleted={0, 1, 2}), "Failed"),
    "no_records": (_dbf([]), "Failed"),
    "claims_more_holds_none": (_dbf([], n_records=3), "Failed"),
    "claims_more_holds_some": (_dbf(["aaaa"], n_records=40), "OK"),
    "cut_mid_record": (_dbf([], n_records=2, tail=b" aa"), "Failed"),
    "live_past_claimed_count": (
        _dbf(["aaaa", "bbbb"], n_records=1, deleted={0}),
        "Failed",
    ),
    "live_after_many_deleted": (
        _dbf(["x%03d" % i for i in range(20000)], deleted=set(range(19999))),
        "OK",
    ),
}


@pytest.mark.parametrize("name", sorted(_DBF_CASES))
def test_dbf_status_from_record_probe(spark, tmp_path, name):
    blob, expected = _DBF_CASES[name]
    p = tmp_path / f"{name}.dbf"
    p.write_bytes(blob)
    results = parse(spark, str(p))
    assert _assert_reader_status(spark, results) == [expected]


# ---- avro -----------------------------------------------------------------


def test_avro_status_from_block_counts(spark, tmp_path):
    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_header,
        synth_avro,
        write_varint,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "n", "type": "long"}],
    }
    header_only = synth_avro(schema, [])
    _, _, sync, _ = read_avro_header(header_only)
    zero_block = write_varint(0) + write_varint(0) + sync
    one_row = synth_avro(schema, [(7,)])
    _, _, sync1, first = read_avro_header(one_row)

    cases = {
        "no_blocks": (header_only, "Failed"),
        "zero_count_blocks": (header_only + zero_block * 3, "Failed"),
        # a zero-count block ahead of the one real block
        "zero_then_row": (
            one_row[:first]
            + write_varint(0) + write_varint(0) + sync1
            + one_row[first:],
            "OK",
        ),
        "rows": (synth_avro(schema, [(i,) for i in range(10)], rows_per_block=3), "OK"),
    }
    for name, (blob, expected) in cases.items():
        p = tmp_path / f"{name}.avro"
        p.write_bytes(blob)
        assert _assert_reader_status(spark, parse(spark, str(p))) == [expected], name


# ---- spreadsheets, SpreadsheetML, html --------------------------------------


def test_xlsx_status_from_width_prescan(spark, tmp_path):
    from conftest import _write_minimal_xlsx

    p = tmp_path / "blank.xlsx"
    _write_minimal_xlsx(
        p, {"blank": [], "empty_cells": [["", ""]], "data": [["a", "b"], ["c"]]}
    )
    results = parse(spark, str(p))
    statuses = dict(
        zip([r.sheet_name for r in results], _assert_reader_status(spark, results))
    )
    assert statuses == {"blank": "Failed", "empty_cells": "OK", "data": "OK"}


def test_spreadsheetml_status_including_salvage(spark, tmp_path):
    ns = 'xmlns="urn:schemas-microsoft-com:office:spreadsheet"'
    whole = tmp_path / "whole.xml"
    whole.write_text(
        f'<?xml version="1.0"?><Workbook {ns}>'
        '<Worksheet ss:Name="W1" xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">'
        "<Table><Row><Cell><Data>a</Data></Cell></Row></Table></Worksheet>"
        '<Worksheet ss:Name="W2" xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">'
        "<Table><Row></Row></Table></Worksheet>"
        "</Workbook>"
    )
    assert _assert_reader_status(spark, parse(spark, str(whole))) == ["OK"]

    cut = tmp_path / "cut.xml"
    cut.write_text(
        f'<?xml version="1.0"?><Workbook {ns}><Worksheet><Table>'
        "<Row><Cell><Data>kept</Data></Cell></Row>"
        "<Row><Cell><Data>cut-off-mid-ro"
    )
    (res,) = parse(spark, str(cut))
    assert "salvaged" in res.engine
    assert _assert_reader_status(spark, [res]) == ["OK"]

    nothing = tmp_path / "nothing.xml"
    nothing.write_text(f'<?xml version="1.0"?><Workbook {ns}><Table><Row>')
    assert _assert_reader_status(spark, parse(spark, str(nothing))) == ["Failed"]


def test_html_status_from_driver_grid(spark, tmp_path):
    p = tmp_path / "tables.html"
    p.write_text(
        "<table><tr></tr><tr></tr></table>"  # all rows empty: no table
        "<table><tr><td></td></tr><tr><td></td></tr></table>"  # blank cells
        "<table><tr><td>v</td></tr></table>"
    )
    assert _assert_reader_status(spark, parse(spark, str(p))) == ["OK", "OK"]

    only_empty = tmp_path / "only_empty.html"
    only_empty.write_text("<table><tr></tr><tr> </tr></table>")
    assert _assert_reader_status(spark, parse(spark, str(only_empty))) == ["Failed"]


# ---- driver-side pandas arms ------------------------------------------------


def test_driver_side_pandas_arms_status(spark, tmp_path):
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from pyarrow import feather

    cases = []
    for name, frame in (("rows", pd.DataFrame({"a": [1, 2]})),
                        ("no_rows", pd.DataFrame({"a": pd.Series([], dtype="int64")}))):
        fp = tmp_path / f"{name}.feather"
        feather.write_feather(pa.Table.from_pandas(frame), str(fp))
        pk = tmp_path / f"{name}.pickle"
        frame.to_pickle(pk)
        cases += [fp, pk]
    np.save(tmp_path / "rows.npy", np.arange(3))
    np.save(tmp_path / "no_rows.npy", np.zeros((0, 2)))
    np.savez(tmp_path / "two.npz", vec=np.arange(2), mat=np.ones((3, 2)))
    (tmp_path / "columnar.json").write_text(json.dumps({"a": {"0": 1, "1": 2}}))
    (tmp_path / "columnar_empty.json").write_text(json.dumps({"a": {}}))
    cases += [
        tmp_path / "rows.npy",
        tmp_path / "no_rows.npy",
        tmp_path / "two.npz",
        tmp_path / "columnar.json",
        tmp_path / "columnar_empty.json",
    ]
    # Spark cannot build a frame from an empty pandas frame (with or
    # without Arrow), so the empty cases take the façade's failure
    # path; they still must not start a job
    got = {}
    for path in cases:
        results = parse(spark, str(path))
        got[path.name] = _assert_reader_status(spark, results)
        if got[path.name][0] == "OK":
            assert all("createDataFrame" in r.engine for r in results), path
    assert got == {
        "rows.feather": ["OK"],
        "rows.pickle": ["OK"],
        "no_rows.feather": ["Failed"],
        "no_rows.pickle": ["Failed"],
        "rows.npy": ["OK"],
        "no_rows.npy": ["Failed"],
        "two.npz": ["OK", "OK"],
        "columnar.json": ["OK"],
        "columnar_empty.json": ["Failed"],
    }


# ---- plan shape of the range scans ----------------------------------------


def test_split_range_covers_exactly_once(spark):
    parallelism = spark.sparkContext.defaultParallelism
    for start, stop in ((0, 0), (5, 4), (0, 1), (0, 3), (5, 19406), (-7, 500)):
        ranges = split_range(spark, start, stop)
        covered = [i for a, b in ranges for i in range(a, b)]
        assert covered == list(range(start, stop))
        assert all(a < b for a, b in ranges)
        assert len(ranges) <= min(MAX_RANGES, parallelism)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sqlite_range_scan_has_no_exchange(spark, tmp_path):
    path = tmp_path / "sparse.db"
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (n INTEGER)")
    con.executemany(
        "INSERT INTO t (rowid, n) VALUES (?,?)",
        [(i * 97 + 5, i) for i in range(200)],
    )
    con.execute("DELETE FROM t WHERE n % 3 = 0")
    con.commit()
    expected = sorted(r[0] for r in con.execute("SELECT n FROM t"))
    con.close()
    (res,) = parse(spark, str(path))
    df = res.data
    plan = _executed_plan(df)
    assert "Exchange" not in plan and "Range" in plan, plan
    # one task per rowid range, every surviving row exactly once
    assert df.rdd.getNumPartitions() == min(
        MAX_RANGES, spark.sparkContext.defaultParallelism
    )
    assert sorted(r.n for r in df.collect()) == expected


def test_dbf_range_scan_has_no_exchange(spark, tmp_path):
    p = tmp_path / "big.dbf"
    p.write_bytes(_dbf(["%4d" % i for i in range(500)], deleted={7, 250}))
    (res,) = parse(spark, str(p))
    plan = _executed_plan(res.data)
    assert "Exchange" not in plan and "Range" in plan, plan
    got = sorted(int(r.V) for r in res.data.collect())
    assert got == [i for i in range(500) if i not in (7, 250)]


def test_corpus_readers_have_no_exchange(spark, tmp_path, xlsx_file):
    import shutil

    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_many,
        synth_avro,
    )
    from almost_any_file_to_pandas_spark.sources.excel import read_excel_many
    from almost_any_file_to_pandas_spark.sources.htmltab import read_html_many
    from almost_any_file_to_pandas_spark.sources.xmlss import (
        read_spreadsheetml_many,
    )

    ns = "urn:schemas-microsoft-com:office:spreadsheet"
    for i in range(6):
        (tmp_path / f"s{i}.xml").write_text(
            f'<Workbook xmlns="{ns}" xmlns:ss="{ns}">'
            f'<Worksheet ss:Name="W{i}"><Table>'
            + f"<Row><Cell><Data>x{i}</Data></Cell></Row>" * (i + 1)
            + "</Table></Worksheet></Workbook>"
        )
        (tmp_path / f"h{i}.html").write_text(
            "<table>" + f"<tr><td>h{i}</td><td>{i}</td></tr>" * (i + 1) + "</table>"
        )
    (tmp_path / "junk.xml").write_text("<not xml")
    (tmp_path / "junk.html").write_text("no tables")

    avro_schema = {"type": "record", "name": "r", "fields": [{"name": "n", "type": "long"}]}
    for i in range(3):
        shutil.copy(xlsx_file, tmp_path / f"w{i}.xlsx")
        (tmp_path / f"a{i}.avro").write_bytes(
            synth_avro(avro_schema, [(10 * i + j,) for j in range(5)], rows_per_block=2)
        )

    xml_df = read_spreadsheetml_many(spark, str(tmp_path / "*.xml"))
    html_df = read_html_many(spark, [str(p) for p in sorted(tmp_path.glob("*.html"))])
    xlsx_df = read_excel_many(spark, str(tmp_path / "w*.xlsx"))
    avro_df = read_avro_many(spark, str(tmp_path / "a*.avro"))
    for df in (xml_df, html_df, xlsx_df, avro_df):
        plan = _executed_plan(df)
        assert "Exchange" not in plan and "Range" in plan, plan
    assert xlsx_df.count() == 3 * 8  # 6-row + 2-row sheet per workbook
    # contiguous block groups keep file and block order
    assert [r.n for r in avro_df.collect()] == [
        10 * i + j for i in range(3) for j in range(5)
    ]

    def key(r):
        return (r[0].rsplit("/", 1)[-1], r[1], r[2], tuple(r[3]))

    assert sorted(map(key, xml_df.collect())) == sorted(
        (f"s{i}.xml", f"W{i}", j, (f"x{i}",)) for i in range(6) for j in range(i + 1)
    )
    assert sorted(map(key, html_df.collect())) == sorted(
        (f"h{i}.html", 0, j, (f"h{i}", str(i))) for i in range(6) for j in range(i + 1)
    )


# ---- sniffing defects ------------------------------------------------------


def test_cut_last_line_of_prefix_is_not_sampled():
    # 45 whole lines and a fragment: 46 lines, step 3, so the last
    # sample position is the fragment
    prefix = ("1;2;3;4\n" * 45 + "11").encode("ascii")
    assert sniff.sniff_delimiter("unused", prefix=prefix) == ";"
    # a lone unterminated line is still sampled
    assert sniff.sniff_delimiter("unused", prefix=b"1;2;3") == ";"


def test_semicolon_csv_over_the_prefix_keeps_its_delimiter(spark, tmp_path):
    # 68-byte lines: the 1 MiB prefix holds 15420 whole lines and a
    # 16-byte fragment of a first field, at a sample position
    line = "x" * 58 + ";22;33;44\n"
    assert len(line) == 68
    p = tmp_path / "wide.csv"
    p.write_text(line * 15520)
    assert p.stat().st_size > sniff.DEFAULT_PREFIX_BYTES
    (res,) = parse(spark, str(p))
    assert res.separator == ";"
    assert res.data.columns == ["c0", "c1", "c2", "c3"]
    assert res.data.first()[1:] == ("22", "33", "44")


def _ascii_ant_rows(seed: int, n: int = 300) -> bytes:
    """Supplier-like rows joined by '~~@~~': plain ASCII that the
    statistical detector has named shift_jis_2004."""
    rnd = random.Random(seed)
    words = ["each", "slyly", "above", "the", "careful", "furiously",
             "final", "requests", "deposits", "ironic"]
    alphabet = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJ0123456789 ,"
    out = io.StringIO()
    for i in range(1, n + 1):
        row = [
            str(i),
            f"Supplier#{i:09d}",
            "".join(rnd.choice(alphabet) for _ in range(rnd.randint(10, 40))),
            str(rnd.randint(0, 24)),
            f"{rnd.randint(10, 34)}-{rnd.randint(100, 999)}-"
            f"{rnd.randint(100, 999)}-{rnd.randint(1000, 9999)}",
            f"{rnd.uniform(-999, 9999):.2f}",
            " ".join(rnd.choice(words) for _ in range(rnd.randint(3, 12))),
        ]
        out.write("~~@~~".join(row) + "\n")
    return out.getvalue().encode("ascii")


def test_ascii_ant_rows_detect_as_ascii_and_parse(spark, tmp_path):
    data = _ascii_ant_rows(seed=1)
    p = tmp_path / "supplier.ant"
    p.write_bytes(data)
    assert sniff.detect_encoding(p) in ("ascii", "utf_8")
    (res,) = parse(spark, str(p))
    assert res.parse_info == "OK"
    assert len(res.data.columns) == 7
    assert res.data.count() == 300


def test_seven_bit_escape_encodings_keep_the_detector_answer():
    text = "日本語のテキストです。これはテストです。" * 20
    data = text.encode("iso2022_jp")
    assert data.isascii() and b"\x1b" in data
    assert sniff.detect_encoding("unused", prefix=data) != "ascii"
