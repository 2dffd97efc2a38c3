"""The two Arrow hand-offs every ``parse()`` reader uses.

* **Rows the driver does not hold** are read on executors by
  :func:`scan_specs`. The reader splits its input on the driver into a
  short list of specs — rowid ranges, record ranges, block groups,
  sheet refs, groups of file paths — and wants one task per spec.
  ``spark.range(n, numPartitions=n)`` gives exactly that: partition
  ``i`` holds the single id ``i``, and its task looks its spec up by id
  in the list shipped with the function. The plan is
  ``Range → MapInPandas``: no local relation to scan and no shuffle to
  spread it. :func:`split_range` and :func:`file_groups` build the two
  common kinds of spec list.
* **Rows the driver already holds** (a single-document grid) go to
  ``spark.createDataFrame(object_frame(rows, names), schema)``, whose
  plan is ``LocalTableScan`` when the session has
  ``spark.sql.execution.arrow.pyspark.enabled`` on (the engine conf).

Both build their pandas frames with :func:`object_frame`, so Arrow
converts each Python value to the declared Spark type as it is.
"""

from __future__ import annotations

from pathlib import Path
from typing import Callable, Iterable, Iterator, List, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Upper bound on ranges per scan: enough tasks to keep a cluster busy
# without issuing thousands of probes against one small file. At
# local[32] this is one range per core.
MAX_RANGES = 64


def object_frame(rows: Iterable[Sequence], names: Sequence[str]):
    """``rows`` as a pandas frame whose columns are all object dtype.

    pandas' own inference stores an integer column that holds a null
    as float64, which rounds every value above 2**53; with object
    columns Arrow converts each Python value to the declared Spark type
    exactly (ints, strings, bytes, dates, tuples for structs, lists for
    arrays). An empty ``rows`` gives an empty frame that still converts
    to any type."""
    import pandas as pd

    return pd.DataFrame(list(rows), columns=list(names), dtype=object)


def scan_specs(
    spark: SparkSession,
    specs: Sequence,
    scan: Callable[[object], Iterator[List[Sequence]]],
    schema,
) -> DataFrame:
    """One task per element of ``specs``; ``scan(spec)`` yields batches
    of row tuples matching ``schema`` (a ``StructType`` or DDL string),
    each handed to Spark as one :func:`object_frame`.

    ``specs`` and ``scan`` travel inside the pickled task function, so
    keep them small: ranges or path lists, not row data. Module-level
    functions they call are pickled by reference, so workers import
    this package."""
    specs = list(specs)
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    names = schema.fieldNames()

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            for i in pdf["id"]:
                for rows in scan(specs[int(i)]):
                    yield object_frame(rows, names)

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
