"""finetoo_sp_spark — a PySpark-native structured-document extraction engine.

A from-scratch reimplementation of the *capabilities* of the Finetoo
Structuring Protocol (reference: bon-cdp/finetoo_sp, a C++20 schema-driven
extraction engine) as an idiomatic Spark pipeline:

- schema-driven tokenize -> tree/region build -> region classification ->
  typed-field + main-text + span extraction (``extraction/``), all inside
  vectorized pandas/Arrow UDFs — the web analogue of the reference's DXF
  parser (reference: src/parser/dxf_text_parser.cc) and semantic block
  classifier (reference: docs/SEMANTIC_UNDERSTANDING.md);
- the reference's 8 generic relational primitives
  (reference: src/operations/operation_executor.h:28-60) as DataFrame
  combinators plus a plan interpreter (``operators/``);
- schema registry with per-property operational metadata and operator
  discovery (reference: src/schema/schema_analyzer.cc) (``schema/``);
- content hashing / divergence analytics
  (reference: src/graph/block_analyzer.cc) (``operators/divergence.py``);
- large-scale training-data pipeline ops: dedup (exact / MinHash-LSH /
  SimHash / n-gram Jaccard / embedding cosine), similarity search, text
  quality analytics (``operators/dedup.py``, ``operators/similarity.py``,
  ``operators/textstats.py``), event windows (``operators/windows.py``),
  near-dup clustering (``operators/components.py``), multimodal plumbing
  (``multimodal.py``), JSON/CSV sinks (``operators/sinks.py``);
- per-partition lineage manifests + checkpoint resume (``sources/lineage.py``)
  behind an Iceberg-or-parquet catalog seam (``sources/catalog.py``);
- a parallel PDF layout-analysis path (``extraction/pdf.py``) and binder
  generation (``extraction/binder.py``);
- as-of and bucketed range joins (``operators/asof.py``);
- a deterministic NL-front-end scaffold: schema -> planner prompt +
  QueryResponse assembly (``plans/frontend.py``).

Everything is DataFrame/SQL-first: Catalyst owns predicate pushdown, column
pruning and join strategy; Python appears only inside Arrow-batched pandas
UDFs (never row-at-a-time).

Importing the package also makes zip imports re-read an archive only when it
changed (CPython < 3.12). A PySpark worker calls
``importlib.invalidate_caches()`` at the start of every task, and before
3.12 each ``zipimporter`` then re-parses its archive's whole central
directory in pure Python. A worker holds ~15 of them (``pyspark.zip`` and its
sub-packages, py4j, and the ``spark-core`` jar that Spark puts on the worker
``PYTHONPATH``): ~130 ms of CPU per task, whatever the UDF does. Every worker
that runs one of this package's UDFs imports the package while unpickling it,
and workers are reused, so each importer's directory is re-read only when its
archive's ``(inode, size, mtime)`` differs from what that importer last
read. This relies on Spark never rewriting ``pyspark.zip``, py4j or its jars
in place while an application runs; a file added with ``addPyFile`` is a new
path and gets a new importer. CPython 3.12 made the re-read lazy
(gh-103200), so on 3.12+ nothing is patched.
"""

import sys

__version__ = "0.1.0"


def _install_zip_cache_guard() -> None:
    import functools
    import os
    import zipimport

    read = zipimport.zipimporter.invalidate_caches
    if hasattr(read, "__wrapped__"):  # already installed
        return

    @functools.wraps(read)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:  # the original handles a missing archive
            self._archive_key = None
            return read(self)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        if getattr(self, "_archive_key", None) != key:
            read(self)
            self._archive_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):
    _install_zip_cache_guard()
