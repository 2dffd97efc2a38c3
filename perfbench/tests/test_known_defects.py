"""Known defects of the package that keep inputs out of the ingest corpus.

The benchmark's workloads hold only operations that succeed, so these
two cases are recorded here instead. Each test states the behaviour
``parse()`` needs and is a strict xfail while the defect stands: once the
package is fixed the test passes, the strict xfail turns that into a
failure, and the input belongs back in ``gen.CORPUS``.

Run with ``python -m pytest perfbench/tests``.
"""

from __future__ import annotations

from pathlib import Path

import pytest

import gen
import run
from almost_any_file_to_pandas_spark.sources import sniff

SF_DIR = Path(run.SF_DIR)


@pytest.mark.skipif(not SF_DIR.is_dir(), reason="sf0.1 testdata not present")
@pytest.mark.xfail(strict=True, reason=(
    "charset_normalizer names ASCII '~~@~~' rows shift_jis_2004; read_delimited "
    "hands that to Spark's CSV charset option and parse_info is Failed"))
def test_ascii_ant_file_is_detected_as_ascii(tmp_path):
    header, rows = gen.TableCache(SF_DIR).rows("supplier", 0, 1_000)
    path = tmp_path / "supplier.ant"
    gen.write_delimited(path, header, rows, "~~@~~")
    path.read_bytes().decode("ascii")  # the file is plain ASCII
    assert sniff.detect_encoding(path) in ("ascii", "utf_8")


@pytest.mark.xfail(strict=True, reason=(
    "sniff_delimiter samples the cut last line of the 1 MiB prefix; a fragment "
    "without the delimiter makes the vote fall back to a tab"))
def test_cut_last_line_does_not_override_the_delimiter():
    # 45 full lines and a fragment: 46 lines, step 3, so the last sample
    # is the fragment, as in a ';' csv larger than the prefix.
    prefix = ("1;2;3;4\n" * 45 + "11").encode("ascii")
    assert sniff.sniff_delimiter("unused", prefix=prefix) == ";"
