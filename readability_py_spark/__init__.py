"""readability_py_spark — a PySpark-native main-content extraction engine.

A from-scratch, Spark-first reimplementation of the capabilities of
al3xandru/readability.py (an Arc90 readability port; see
/root/reference/readability.py): per-document HTML → article extraction
runs inside vectorized Arrow batches (``mapInPandas``), while the corpus
surface (scan / filter / dedup / join / aggregate / window / sink /
resume) is plain DataFrame API so Catalyst and AQE drive the physical
plan.

Layout:
  core/        pure-Python3 byte-faithful extractor (no Spark imports)
  operators/   corpus-level relational + training-data operators
  sources/     pages-table synthesizer, parquet/iceberg IO, snapshot catalog
  functions/   reusable Column expression helpers
  plans/       end-to-end job plans (extract job, metrics job)
  streaming/   structured-streaming scaffold (batch is the north rule)
"""

__version__ = "0.1.0"
