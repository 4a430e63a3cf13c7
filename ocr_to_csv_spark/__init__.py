"""ocr_to_csv_spark — a from-scratch PySpark-native document-to-CSV extraction engine.

Re-expresses the capabilities of the reference desktop tool rad10/OCR-to-CSV
(see /root/reference, SURVEY.md) as an idiomatic Spark pipeline over tables of
interleaved text+media documents:

- ``datagen``    deterministic synthetic corpus generator (FIXTURES.md).
- ``sources``    span sources and decoders (PDF, archives, WARC, codecs).
- ``imaging``    pure-numpy image ops (binarize / morphology / connected
                 components / table-grid recovery) — the native OCR path.
- ``extraction`` HTML boilerplate strip + table harvest, OCR lattices,
                 dictionary matchers, and the end-to-end DataFrame pipeline.
- ``plans``      resumable checkpointed runs, iterative resume, training-set
                 jobs and other multi-stage plans over the pipeline.
- ``streaming``  Structured Streaming ingest, dedup, sketches and windows.
- ``functions``  the query library: every module defining ``QUERIES`` and
                 ``ORACLES`` (Spark plan + DuckDB oracle); iterative queries
                 run on ``functions.util.superstep``.
- ``scratch``    the only owner of scratch parquet dirs (``path``, ``stage``,
                 ``scope``).
- ``session``    the SparkSession factory with the engine's defaults.

Everything DataFrame-first: vectorized pandas/Arrow UDFs only, never
per-row Python UDFs; no RDDs in the hot path.
"""

__version__ = "0.1.0"

# Parallelism in this engine comes from Spark tasks and process pools —
# one BLAS thread per process. Without this, every Spark python worker /
# datagen pool worker spawns a full OpenBLAS thread pool for the tiny
# batched 8x8 codec matmuls, and N_workers x N_blas_threads threads
# thrash the host (measured: 2560-doc datagen 522s -> ~60s). setdefault
# so an embedding application can still override; must run before numpy
# first loads in this process (this package imports numpy lazily below).
import os as _os

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS"):
    _os.environ.setdefault(_v, "1")
