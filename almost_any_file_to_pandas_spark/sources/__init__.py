"""File-format sources.

Native Spark readers cover parquet/ORC/JSON/delimited text. Every other
reader hands its rows to Spark in one of two Arrow forms
(``rangescan``):

* rows the driver does not hold are read on executors by
  ``rangescan.scan_specs`` (plan ``Range → MapInPandas``): xlsx/xlsb/
  xls/ods one task per sheet, sqlite and dbf one per key or record
  range, avro one per group of blocks, and the ``*_many`` corpus
  readers one per group of files;
* rows the driver already holds go to ``spark.createDataFrame`` over a
  pandas frame (plan ``LocalTableScan``). Single-document formats —
  SpreadsheetML, HTML, a WITHOUT ROWID sqlite table, pickle, Feather,
  pandas-orient JSON, npy/npz and PDF — parse on the driver and keep
  their grid there until Spark takes it.

There is no Python DataSource and no pickled-row ``parallelize``.
"""
