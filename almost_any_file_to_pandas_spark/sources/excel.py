"""Excel scan (S2): sheet fan-out to per-sheet all-string DataFrames.

Reference: ``ImportExcel.work()`` (/root/reference/main.py:239-265) —
``pd.ExcelFile.sheet_names`` then ``pd.read_excel(sheet_name=s,
header=None, index_col=None, dtype=str)`` per sheet; no sheets →
single failed answer (main.py:251-253).

Spark design: the driver enumerates sheets and pre-scans each sheet's
width (the Excel analogue of the text pipeline's max-columns pre-scan
D3, main.py:360-368 — needed because a DataFrame schema is fixed
before read). The width is also the result's status: ``width > 0``
means a row exists, so ``parse_info`` needs no Spark job. Row data is
then read *executor-side* through ``rangescan.scan_specs``, one task
per worksheet (plan ``Range → MapInPandas``): the parse runs where the
data will be consumed, and ``read_excel_many`` spreads groups of
workbooks over tasks. Workers import ``excel_core`` from this package.

All six suffixes parse natively with stdlib code in ``excel_core``:
.xlsx (OOXML), .xlsb (BIFF12 record reader), .xls (BIFF8 records in a
CFB container), .ods/.odt/.odf (OpenDocument). Truly unreadable files
degrade to a failed result like the reference's log-and-continue path.
"""

from __future__ import annotations

from pathlib import Path
from typing import Iterator, List, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import excel_core
from almost_any_file_to_pandas_spark.sources.rangescan import (
    file_groups,
    scan_specs,
)

NATIVE_FORMATS = {
    ".xlsx": "xlsx",
    ".xlsb": "xlsb",  # BIFF12: zip container, binary parts (stdlib parse)
    ".xls": "xls",  # BIFF8 in a CFB compound document (stdlib parse)
    ".ods": "ods",
    ".odt": "ods",
    ".odf": "ods",
}
ZIP_XML_FORMATS = NATIVE_FORMATS  # back-compat alias


def _failed(spark: SparkSession, path: str, engine: str) -> List[ParseResult]:
    empty = spark.createDataFrame([], T.StructType([]))
    return [
        ParseResult(
            data=empty, file_path=path, engine=engine
        ).mark_failed()
    ]


def read_excel(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    p = Path(path)
    suffix = p.suffix.lower()
    fmt = NATIVE_FORMATS.get(suffix)
    if fmt is None:
        # Unrecognized Excel-family suffix → try pandas (reference
        # relies on pd.ExcelFile for engine dispatch, main.py:255-259);
        # absent engine → failed result.
        try:
            import pandas as pd

            sheets = pd.read_excel(
                p, sheet_name=None, header=None, index_col=None, dtype=str
            )
        except Exception:
            return _failed(spark, str(p), engine=f"pandas[{suffix}] unavailable")
        out = []
        for name, frame in sheets.items():
            frame = frame.fillna("")
            frame.columns = [f"c{i}" for i in range(frame.shape[1])]
            out.append(
                ParseResult(
                    data=spark.createDataFrame(frame.astype(str)),
                    sheet_name=name,
                    file_path=str(p),
                    engine="pandas",
                ).mark_rows(len(frame) > 0)
            )
        return out or _failed(spark, str(p), engine="pandas")

    inventory = excel_core.sheet_inventory(str(p), fmt)
    if not inventory:  # no sheets → failed (main.py:251-253)
        return _failed(spark, str(p), engine=fmt)

    results: List[ParseResult] = []
    for sheet_name, ref in inventory:
        # Driver pre-scan: width only (schema must precede the read).
        width = excel_core.sheet_width(
            excel_core.sheet_rows(str(p), fmt, ref)
        )
        if width == 0:
            df = spark.createDataFrame([], T.StructType([]))
            results.append(
                ParseResult(
                    data=df,
                    sheet_name=sheet_name,
                    file_path=str(p),
                    engine=f"{fmt} executor scan",
                ).mark_failed()
            )
            continue
        # width > 0: the pre-scan saw a cell, so the sheet has a row
        results.append(
            ParseResult(
                data=_scan_sheet(spark, str(p), fmt, ref, width),
                sheet_name=sheet_name,
                file_path=str(p),
                engine=f"{fmt} executor scan",
            ).mark_rows(True)
        )
    return results


def _scan_sheet(
    spark: SparkSession, path: str, fmt: str, ref: str, width: int
) -> DataFrame:
    """One worksheet as ``c0..c{width-1}`` strings, parsed in one task:
    a worksheet part is a single deflate stream, not splittable."""

    def scan(sheet_ref: str) -> Iterator:
        rows = excel_core.sheet_rows(path, fmt, sheet_ref)
        yield excel_core.padded(rows, width)

    schema = T.StructType(
        [T.StructField(f"c{i}", T.StringType()) for i in range(width)]
    )
    return scan_specs(spark, [ref], scan, schema)


def read_excel_many(spark: SparkSession, paths, fmt: str = "xlsx") -> DataFrame:
    """Corpus-scale workbook ingestion: one DataFrame over many files,
    one task per group of files (``rangescan.file_groups``), ragged
    rows as (source_file, sheet_name, row_idx, cells).

    No driver pre-scan: sheet enumeration and parsing happen in the
    task that owns the file, so driver cost is O(#files) path strings.
    An unreadable workbook or sheet contributes no rows. Normalize
    width downstream, e.g.::

        width = df.agg(F.max(F.size("cells"))).first()[0]
        df.select(..., *[F.element_at("cells", i+1) for i in range(width)])
    """

    def scan(group: List[str]) -> Iterator:
        for path in group:
            try:
                inventory = excel_core.sheet_inventory(path, fmt)
            except Exception:
                continue
            for sheet_name, ref in inventory:
                try:
                    rows = excel_core.sheet_rows(path, fmt, ref)
                except Exception:
                    continue
                yield [
                    (path, sheet_name, idx,
                     ["" if v is None else str(v) for v in row])
                    for idx, row in enumerate(rows)
                ]

    return scan_specs(
        spark,
        file_groups(spark, paths),
        scan,
        "source_file string, sheet_name string, row_idx int, cells array<string>",
    )
