"""PySpark-native main-content extraction engine.

A brand-new, Spark-first rebuild of the computation performed by the
reference service ``nashrakhan-aithon/service1_text-extraction``
(PDF/HTML payload decode -> parse -> boilerplate strip / layout-ordered
text -> quality gate -> normalized text + char spans + metrics ->
durable sink with resume markers), re-expressed over a DataFrame of
multi-turn conversation transcripts::

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Layout:

- ``kernels/``   pure-Python/NumPy per-batch kernels (no Spark imports):
  unicode cleaning, garbage-text gate, HTML boilerplate strip,
  from-scratch PDF text parser, minimal PDF writer for fixtures.
- ``pipeline/``  the Spark job: spread of a narrow input -> Arrow UDF
  (no pandas in the worker) -> (conv_id, turn_idx) window -> outputs +
  checkpoint markers for exact resume.
- ``functions/`` relational / training-data operators (dedup, ANN,
  text analysis) used by the driver contract in ``__spark_entry__.py``.
- ``streaming/`` ``stream_extract``, the one streaming entry point:
  each micro-batch of a growing parquet directory runs the batch
  pipeline and overwrites its own ``batch_id=`` partition.
"""

__version__ = "0.1.0"
