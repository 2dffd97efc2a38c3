"""PySpark-native analytics engine with the capabilities of
``OlehOleinikov/almost-any-file-to-pandas`` (reference: /root/reference/main.py),
re-expressed Spark-first and extended with the operators a large-scale
(100 TB-class) training-data pipeline needs: deduplication, similarity
search, multimodal column plumbing, and text analysis.

Public surface
--------------
- :func:`parse` — multi-format file → list of :class:`ParseResult`
  (the reference's ``FileToPandasImporter.parse``, main.py:118-168).
- :mod:`~almost_any_file_to_pandas_spark.plans` — relational queries
  (flagship pricing summary & friends) over the TPC-H-ish testdata.
- :mod:`~almost_any_file_to_pandas_spark.operators` — dedup /
  similarity / text-analysis / multimodal operators.
- :mod:`~almost_any_file_to_pandas_spark.streaming` — Structured
  Streaming restatements of the batch operators.

Design notes (Spark-first, scale-first)
---------------------------------------
The reference is a single-process, eager, row-at-a-time pandas library.
This engine instead declares *lazy* DataFrame plans and lets Catalyst +
Tungsten pick physical strategy: parquet/CSV/JSON scans use Spark's
native distributed readers (predicate pushdown + column pruning for
free); formats Spark lacks (xlsx, SpreadsheetML XML, sqlite, avro, pickle,
PDF, ...) hand their rows over through Arrow: executor-side scans
(``Range → MapInPandas``, one task per sheet, range or file group) or,
for a single-document grid the driver already parsed, one
``createDataFrame`` over a pandas frame.
All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen); Python appears only in Arrow-batched Pandas UDFs
where semantics genuinely require it.
"""

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.parse import parse
from almost_any_file_to_pandas_spark.session import get_spark
from almost_any_file_to_pandas_spark.sinks import write

__all__ = ["ParseResult", "parse", "get_spark", "write"]
__version__ = "0.1.0"
