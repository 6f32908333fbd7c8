"""latex_ocr_spark — a PySpark-native math-extraction analytics engine.

Re-creates the query/data-processing semantics of the pix2tex corpus
pipeline (reference: lukas-blecher/LaTeX-OCR) as an idiomatic Spark
DataFrame engine over multi-turn transcript tables:

- ``textkernel``  — pure-Python kernels (regex math location, macro
  expansion, LaTeX normalization); no Spark imports, reused both as the
  inner loops of vectorized Arrow UDFs and as golden-test subjects.
- ``functions``   — Spark Column expressions, Arrow UDFs and ``map_rows``.
- ``operators``   — DataFrame-level operators (extraction, bucketing,
  dedup, similarity, eval metrics, lineage/resume).
- ``sources``     — readers for the test tables + transcript synthesis.
- ``streaming``   — Structured Streaming wrapper over the batch path.
"""

__version__ = "0.1.0"
