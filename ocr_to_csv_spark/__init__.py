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
import sys as _sys

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS"):
    _os.environ.setdefault(_v, "1")


def _keep_zip_directories():
    """Re-read a zip archive's directory only when the archive changed.

    A PySpark Python worker runs ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``). Before CPython
    3.12 that makes each ``zipimporter`` re-read its archive's central
    directory right away. A worker holds one importer per package dir
    inside ``pyspark.zip`` (1,328 entries), so every task re-parsed the
    same directory ~16 times: 0.2-0.4 s before the UDF ran, measured on
    empty segment tasks. The wrapper below keys each archive's directory
    on ``os.stat`` (inode, size, mtime_ns) and re-reads only when that
    changes; otherwise the importer rebinds to the shared cached directory.
    """
    import zipimport

    if _sys.version_info >= (3, 12):  # 3.12 made the invalidation lazy
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_keyed_on_stat", False):
        return
    cache = zipimport._zip_directory_cache

    def stat_key(archive):
        try:
            st = _os.stat(archive)
        except OSError:
            return None
        return st.st_ino, st.st_size, st.st_mtime_ns

    # The worker that imports this package re-read every cached directory
    # in this task's setup, just before unpickling the UDF, so the current
    # stat is the stat those directories were read at.
    read_at = {archive: stat_key(archive) for archive in cache}

    def invalidate_caches(self):
        key = stat_key(self.archive)
        files = cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        original(self)
        read_at[self.archive] = key

    invalidate_caches._keyed_on_stat = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# Only inside a PySpark Python worker: its task setup module is loaded
# there and never on the driver or in datagen pool workers.
if "pyspark.worker_util" in _sys.modules:
    _keep_zip_directories()
