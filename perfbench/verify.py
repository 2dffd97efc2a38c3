"""Output checks, run off the timed path.

The ingest workload writes every parsed result to parquet; each file
written is read back with pyarrow (a reader independent of Spark) and
reduced to (rows, columns, crc32 cell checksum) under the rule of
``gen.cell_crc``, then compared with the generator's manifest.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from gen import cell_crc


def parquet_print(path: Path) -> tuple:
    """(rows, cols, crc) of a parquet file or directory."""
    table = pq.read_table(path)
    rows = list(zip(*(col.to_pylist() for col in table.columns)))
    return table.num_rows, table.num_columns, cell_crc(rows)


def compare(entries, got: dict) -> list:
    """``got`` maps a file path to its results' (rows, cols, crc) in
    any order. Returns one error string per manifest file that is
    missing or differs; an empty list means all passed."""
    errors = []
    for entry in entries:
        path = entry["path"]
        if path not in got:
            errors.append(f"{Path(path).name}: no output")
            continue
        want = sorted((e["rows"], e["cols"], e["crc"]) for e in entry["results"])
        have = sorted(got[path])
        if have != want:
            errors.append(
                f"{Path(path).name}: (rows, cols, crc) {have} != manifest {want}"
            )
    return errors
