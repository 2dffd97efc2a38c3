"""Task-per-spec scan shared by the by-path readers (sqlite, dbf,
``read_spreadsheetml_many``, ``read_html_many``).

Each reader splits its input on the driver into a short list of
specs — rowid ranges, record ranges, groups of file paths — and wants
one task per spec. ``spark.range(n, numPartitions=n)`` gives exactly
that: partition ``i`` holds the single id ``i``, and its task looks
its spec up by id in the list shipped with the function. The plan is
``Range → MapInPandas``: no local relation to scan and no shuffle to
spread it. :func:`split_range` and :func:`file_groups` build the two
kinds of spec list.
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable, Iterator, List, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession

# Upper bound on ranges per scan: enough tasks to keep a cluster busy
# without issuing thousands of probes against one small file. At
# local[32] this is one range per core.
MAX_RANGES = 64


def scan_specs(
    spark: SparkSession,
    specs: Sequence,
    scan: Callable[[object], Iterator],
    schema,
) -> DataFrame:
    """One task per element of ``specs``; ``scan(spec)`` yields the
    pandas frames (matching ``schema``) that the spec's task emits.

    ``specs`` and ``scan`` travel inside the pickled task function, so
    keep them small: ranges or path lists, not row data."""
    specs = list(specs)

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            for i in pdf["id"]:
                yield from scan(specs[int(i)])

    n = max(1, len(specs))
    return spark.range(len(specs), numPartitions=n).mapInPandas(
        run, schema
    )


def split_range(
    spark: SparkSession, start: int, stop: int
) -> List[Tuple[int, int]]:
    """``[start, stop)`` cut into at most ``min(MAX_RANGES,
    defaultParallelism)`` contiguous, non-empty half-open ranges: the
    specs of a reader that scans one key or record range per task."""
    if stop <= start:
        return []
    parallelism = spark.sparkContext.defaultParallelism
    n = min(MAX_RANGES, parallelism, stop - start)
    width = -(-(stop - start) // n)
    return [(a, min(stop, a + width)) for a in range(start, stop, width)]


def file_groups(spark: SparkSession, paths) -> List[List[str]]:
    """A glob pattern (or an explicit path list) dealt round-robin into
    at most ``defaultParallelism`` groups: the specs of a corpus reader
    that parses one group of files per task."""
    import glob

    if isinstance(paths, (str, Path)):
        expanded = sorted(glob.glob(str(paths))) or [str(paths)]
    else:
        expanded = [str(p) for p in paths]
    k = max(1, min(len(expanded), spark.sparkContext.defaultParallelism))
    return [expanded[i::k] for i in range(k)]
