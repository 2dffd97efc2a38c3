"""Seeded ingest-corpus generator and its manifest.

Cuts row windows out of the sf0.1 parquet tables and writes them in
the formats ``parse()`` dispatches on. Every writer here is
independent of the package under test (stdlib and pyarrow only), so
the corpus is a check of the readers, not a round trip through them.

The manifest records, per file, the results ``parse()`` must return:
for each result its row count, column count and a crc32 cell checksum
(see :func:`cell_crc`). The same seed always yields byte-identical
files and the same manifest.
"""

from __future__ import annotations

import gzip
import json
import random
import re
import sqlite3
import struct
import zipfile
import zlib
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Straight-split readers keep every cell as the text written; typed
# readers may hand the same value back as long, double or string. Both
# sides therefore reduce a cell to one canonical string: numbers (and
# strings that spell a plain decimal number) render as '%.2f', every
# other value is its own text, null is '\N'. verify.parquet_print
# applies the same rule to the parquet the benchmark writes.
NUMERIC_TEXT = re.compile(r"-?[0-9]+(\.[0-9]+)?")
NULL_TOKEN = "\\N"

# Text cells are reduced to this alphabet so that no delimiter, quote,
# markup character or tab can reach a file.
_UNSAFE = re.compile(r"[^A-Za-z0-9#., -]+")

# The ingest corpus: (file stem, format, table(s), rows), one file per
# format parse() dispatches on, except ``.ant`` (see
# tests/test_known_defects.py). Row counts are fixed; the seed places
# each row window. The lineitem txt exceeds the 1 MiB sniff prefix, so
# the sniffers see a cut last line.
CORPUS = (
    ("lineitem", "txt", "lineitem", 25_000),
    ("orders", "csv.gz", "orders", 20_000),
    ("part", "csv", "part", 10_000),
    ("customer_kv", "ini", "customer", 300),
    ("lineitem_zip", "zip", "lineitem", 10_000),
    ("customer", "xml", "customer", 3_000),
    ("catalog", "sqlite", ("part", "supplier"), (4_000, 1_000)),
    ("orders_sheet", "xlsx", "orders", 3_000),
    ("lineitem_avro", "avro", "lineitem", 8_000),
    ("part_dbf", "dbf", "part", 4_000),
    ("orders_jsonl", "jsonl", "orders", 8_000),
    ("customer_html", "html", "customer", 2_000),
)


def canon(value) -> str:
    """Canonical text of one cell (see module docstring)."""
    if value is None:
        return NULL_TOKEN
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        return "%.2f" % value
    text = str(value)
    return "%.2f" % float(text) if NUMERIC_TEXT.fullmatch(text) else text


def cell_crc(rows) -> int:
    """Sum over all cells of crc32('<column index>\\x1f<canon(cell)>').

    Order-insensitive across rows, sensitive to which column a value
    lands in. ``rows`` is a list of equal-width sequences.
    """
    total = 0
    for ci, column in enumerate(zip(*rows)):
        seed = zlib.crc32(f"{ci}\x1f".encode("utf-8"))
        memo: dict = {}
        for value in column:
            crc = memo.get(value)
            if crc is None:
                crc = memo[value] = zlib.crc32(canon(value).encode("utf-8"), seed)
            total += crc
    return total


def expected(rows) -> dict:
    rows = list(rows)
    width = len(rows[0]) if rows else 0
    return {"rows": len(rows), "cols": width, "crc": cell_crc(rows)}


def _clean(col):
    """Table column → the values written: numbers stay numbers, times
    become ISO dates, text is reduced to the safe alphabet."""
    if pa.types.is_timestamp(col.type) or pa.types.is_date(col.type):
        return pc.strftime(col, "%Y-%m-%d")
    if not pa.types.is_string(col.type):
        return col
    col = pc.utf8_trim_whitespace(pc.replace_substring_regex(col, _UNSAFE.pattern, " "))
    col = pc.replace_substring_regex(col, " +", " ")
    return pc.if_else(pc.equal(col, ""), "x", col)


def _text(value) -> str:
    return repr(value) if isinstance(value, float) else str(value)


class TableCache:
    """The sf0.1 tables, read once per process."""

    def __init__(self, sf_dir: Path):
        self.sf_dir = Path(sf_dir)
        self._tables: dict = {}

    def table(self, name: str):
        if name not in self._tables:
            self._tables[name] = pq.read_table(self.sf_dir / f"{name}.parquet")
        return self._tables[name]

    def rows(self, table: str, start: int, count: int):
        """(header, rows) for a window of ``count`` rows at ``start``,
        wrapping around the table end."""
        t = self.table(table)
        n = t.num_rows
        window = t.take([(start + i) % n for i in range(count)])
        cols = [_clean(col).to_pylist() for col in window.columns]
        return list(t.schema.names), [list(r) for r in zip(*cols)]

    def size(self, table: str) -> int:
        return self.table(table).num_rows


# ---------------------------------------------------------------- writers
# Each writer takes (path, header, rows) and returns the list of
# expected results, in the order-insensitive form the verifier uses.


def write_delimited(path: Path, header, rows, delimiter: str, compress=False):
    """Straight-split text: the header is a data row, cells are text."""
    grid = [list(header)] + [[_text(v) for v in r] for r in rows]
    body = "\n".join(delimiter.join(r) for r in grid) + "\n"
    data = body.encode("utf-8")
    if compress:
        data = gzip.compress(data, compresslevel=1, mtime=0)
    path.write_bytes(data)
    return [expected(grid)]


def write_ini(path: Path, header, rows):
    """key=value lines: no sniffable delimiter, so one column per line."""
    lines = [f"{h}={_text(v)}" for r in rows for h, v in zip(header, r)]
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return [expected([[ln] for ln in lines])]


def _xml_cell(v) -> str:
    if isinstance(v, (int, float)):
        return f'<Cell><Data ss:Type="Number">{_text(v)}</Data></Cell>'
    return f'<Cell><Data ss:Type="String">{v}</Data></Cell>'


def write_spreadsheetml(path: Path, sheets):
    """SpreadsheetML 2003: one Worksheet per (name, header, rows)."""
    out = [
        '<?xml version="1.0"?>\n'
        '<Workbook xmlns="urn:schemas-microsoft-com:office:spreadsheet" '
        'xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">'
    ]
    results = []
    for name, header, rows in sheets:
        out.append(f'<Worksheet ss:Name="{name}"><Table>')
        for r in [header] + rows:
            out.append("<Row>" + "".join(_xml_cell(v) for v in r) + "</Row>\n")
        out.append("</Table></Worksheet>")
        results.append(expected([list(header)] + rows))
    out.append("</Workbook>\n")
    path.write_text("".join(out), encoding="utf-8")
    return results


def _col_letters(ci: int) -> str:
    col, n = "", ci + 1
    while n:
        n, rem = divmod(n - 1, 26)
        col = chr(65 + rem) + col
    return col


def write_xlsx(path: Path, sheets):
    """Minimal OOXML workbook: inline-string and numeric cells."""

    def sheet_xml(grid) -> str:
        out = [
            '<?xml version="1.0"?><worksheet xmlns="http://schemas.'
            'openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        ]
        for ri, row in enumerate(grid, start=1):
            out.append(f'<row r="{ri}">')
            for ci, v in enumerate(row):
                ref = f"{_col_letters(ci)}{ri}"
                if isinstance(v, (int, float)):
                    out.append(f'<c r="{ref}"><v>{_text(v)}</v></c>')
                else:
                    out.append(f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>')
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        return "".join(out)

    ns = "http://schemas.openxmlformats.org"
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{ns}/spreadsheetml/2006/main" '
        f'xmlns:r="{ns}/officeDocument/2006/relationships"><sheets>'
        + "".join(
            f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, (name, _, _) in enumerate(sheets)
        )
        + "</sheets></workbook>"
    )
    rels = (
        f'<?xml version="1.0"?><Relationships xmlns="{ns}/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{ns}/officeDocument/2006/'
            f'relationships/worksheet" Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )
    results = []
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(zipfile.ZipInfo("xl/workbook.xml", (1980, 1, 1, 0, 0, 0)), wb)
        z.writestr(
            zipfile.ZipInfo("xl/_rels/workbook.xml.rels", (1980, 1, 1, 0, 0, 0)), rels
        )
        for i, (_, header, rows) in enumerate(sheets):
            grid = [list(header)] + rows
            z.writestr(
                zipfile.ZipInfo(f"xl/worksheets/sheet{i + 1}.xml", (1980, 1, 1, 0, 0, 0)),
                sheet_xml(grid),
            )
            results.append(expected(grid))
    return results


def write_sqlite(path: Path, tables):
    """One SQLite table per (name, header, rows), declared types."""
    if path.exists():
        path.unlink()
    con = sqlite3.connect(str(path))
    results = []
    try:
        for name, header, rows in tables:
            types = [
                "INTEGER" if isinstance(v, int) else "REAL" if isinstance(v, float)
                else "TEXT"
                for v in rows[0]
            ]
            cols = ", ".join(f"{h} {t}" for h, t in zip(header, types))
            con.execute(f"CREATE TABLE {name} ({cols})")
            marks = ", ".join("?" for _ in header)
            con.executemany(f"INSERT INTO {name} VALUES ({marks})", rows)
            results.append(expected(rows))
        con.commit()
    finally:
        con.close()
    return results


def write_dbf(path: Path, header, rows):
    """dBASE III: N fields for numbers (2 decimals for floats), C for
    text; names cut to ten characters."""
    fields = []
    for ci, h in enumerate(header):
        col = [r[ci] for r in rows]
        if all(isinstance(v, int) for v in col):
            width = max(len(str(v)) for v in col) + 1
            fields.append((h[:10], "N", width, 0))
        elif all(isinstance(v, (int, float)) for v in col):
            width = max(len("%.2f" % v) for v in col) + 1
            fields.append((h[:10], "N", width, 2))
        else:
            width = min(254, max(len(str(v)) for v in col))
            fields.append((h[:10], "C", width, 0))
    record_size = 1 + sum(f[2] for f in fields)
    header_size = 32 + 32 * len(fields) + 1
    out = [struct.pack("<B3BIHH20x", 0x03, 124, 1, 1, len(rows), header_size,
                       record_size)]
    for name, ftype, width, dec in fields:
        out.append(name.encode().ljust(11, b"\x00") + ftype.encode() + b"\x00" * 4
                   + bytes([width, dec]) + b"\x00" * 14)
    out.append(b"\x0d")
    typed_rows = []
    for r in rows:
        rec, typed = [b" "], []
        for (name, ftype, width, dec), v in zip(fields, r):
            if ftype == "N":
                text = str(v) if dec == 0 else "%.2f" % v
                rec.append(text.rjust(width).encode("ascii"))
                typed.append(v)
            else:
                text = str(v)[:width]
                rec.append(text.ljust(width).encode("ascii"))
                typed.append(text)
        out.append(b"".join(rec))
        typed_rows.append(typed)
    out.append(b"\x1a")
    path.write_bytes(b"".join(out))
    return [expected(typed_rows)]


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _avro_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _zigzag(len(b)) + b


def write_avro(path: Path, header, rows, rows_per_block: int = 4096):
    """Avro object container, null codec, long/double/string fields."""
    kinds = [
        "long" if isinstance(v, int) else "double" if isinstance(v, float)
        else "string"
        for v in rows[0]
    ]
    schema = {
        "type": "record", "name": "row",
        "fields": [{"name": h, "type": k} for h, k in zip(header, kinds)],
    }
    sync = zlib.crc32(json.dumps(schema).encode()).to_bytes(4, "little") * 4
    out = [b"Obj\x01", _zigzag(2)]
    for key, val in (("avro.schema", json.dumps(schema)), ("avro.codec", "null")):
        out.append(_avro_str(key) + _avro_str(val))
    out += [_zigzag(0), sync]
    enc = {
        "long": _zigzag,
        "double": lambda v: struct.pack("<d", v),
        "string": lambda v: _avro_str(str(v)),
    }
    for start in range(0, len(rows), rows_per_block):
        block = rows[start:start + rows_per_block]
        payload = b"".join(
            enc[k](v) for r in block for k, v in zip(kinds, r)
        )
        out += [_zigzag(len(block)), _zigzag(len(payload)), payload, sync]
    path.write_bytes(b"".join(out))
    return [expected(rows)]


def write_html(path: Path, tables):
    """One <table> per (header, rows); header cells in a <th> row."""
    out = ["<!DOCTYPE html><html><body>"]
    results = []
    for header, rows in tables:
        out.append("<table><tr>" + "".join(f"<th>{h}</th>" for h in header) + "</tr>")
        for r in rows:
            out.append("<tr>" + "".join(f"<td>{_text(v)}</td>" for v in r) + "</tr>\n")
        out.append("</table>")
        results.append(expected([list(header)] + [[_text(v) for v in r] for r in rows]))
    out.append("</body></html>\n")
    path.write_text("".join(out), encoding="utf-8")
    return results


def write_jsonl(path: Path, header, rows):
    """JSON lines with keys in sorted order (Spark infers JSON columns
    sorted by name, so the column index of a value is stable)."""
    order = sorted(range(len(header)), key=lambda i: header[i])
    lines = [
        json.dumps({header[i]: r[i] for i in order}, separators=(",", ":"))
        for r in rows
    ]
    path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return [expected([[r[i] for i in order] for r in rows])]


def write_zip(path: Path, members):
    """Zip of text members: (name, header, rows) as ';' csv."""
    results = []
    with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_DEFLATED) as z:
        for name, header, rows in members:
            grid = [list(header)] + [[_text(v) for v in r] for r in rows]
            body = "\n".join(";".join(r) for r in grid) + "\n"
            z.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), body)
            results.append(expected(grid))
    return results


# ---------------------------------------------------------------- corpora


def _write(fmt: str, path: Path, parts):
    """Dispatch one file; ``parts`` is a list of (name, header, rows)."""
    name, header, rows = parts[0]
    if fmt == "txt":
        return write_delimited(path, header, rows, "\t")
    if fmt == "csv":
        return write_delimited(path, header, rows, ";")
    if fmt == "ant":
        return write_delimited(path, header, rows, "~~@~~")
    if fmt == "csv.gz":
        return write_delimited(path, header, rows, "|", compress=True)
    if fmt == "ini":
        return write_ini(path, header, rows)
    if fmt == "xml":
        return write_spreadsheetml(path, parts)
    if fmt == "xlsx":
        return write_xlsx(path, parts)
    if fmt == "sqlite":
        return write_sqlite(path, parts)
    if fmt == "dbf":
        return write_dbf(path, header, rows)
    if fmt == "avro":
        return write_avro(path, header, rows)
    if fmt == "html":
        return write_html(path, [(h, r) for _, h, r in parts])
    if fmt == "jsonl":
        return write_jsonl(path, header, rows)
    if fmt == "zip":
        return write_zip(path, [(f"{n}.csv", h, r) for n, h, r in parts])
    raise ValueError(f"unknown format {fmt}")


def make_corpus(out_dir: Path, seed: int, cache: TableCache) -> list:
    """Write CORPUS with seed-placed row windows; return the manifest
    entries (one per file)."""
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    entries = []
    for stem, fmt, table, count in CORPUS:
        tables = table if isinstance(table, tuple) else (table,)
        counts = count if isinstance(count, tuple) else (count,)
        parts = []
        for t, n in zip(tables, counts):
            header, rows = cache.rows(t, rng.randrange(cache.size(t)), n)
            parts.append((t, header, rows))
        path = out_dir / f"{stem}.{fmt}"
        entries.append(_entry(path, fmt, _write(fmt, path, parts)))
    return entries


def _entry(path: Path, fmt: str, results: list) -> dict:
    return {
        "file": path.name,
        "format": fmt,
        "bytes": path.stat().st_size,
        "results": sorted(results, key=lambda r: (r["rows"], r["cols"], r["crc"])),
    }


def generate(out_dir: Path, seed: int, sf_dir: Path) -> list:
    """Write the corpus and its manifest.json; return the manifest
    entries, each with its absolute ``path`` added."""
    out_dir = Path(out_dir)
    entries = make_corpus(out_dir, seed, TableCache(sf_dir))
    (out_dir / "manifest.json").write_text(
        json.dumps({"seed": seed, "files": entries}, indent=1)
    )
    return load_manifest(out_dir)


def load_manifest(out_dir: Path) -> list:
    entries = json.loads((Path(out_dir) / "manifest.json").read_text())["files"]
    for e in entries:
        e["path"] = str(Path(out_dir) / e["file"])
    return entries


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory for the corpus")
    ap.add_argument("--sf-dir", required=True, help="sf0.1 testdata directory")
    args = ap.parse_args()
    generate(Path(args.out), args.seed, Path(args.sf_dir))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
