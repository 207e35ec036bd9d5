"""Driver contract: queries() / oracle_sql() / entry over the parquet
test tables. The 269 query definitions live in per-family q_*.py
modules, each with its DuckDB oracle inline in its ``@_q(...)``; the
shared infra (table loader, schema, registry, oracle helpers) lives in
_core.py. Import order of the family modules fixes registry order.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    Callable,
    DataFrame,
    SparkSession,
    _REGISTRY,
)

# Re-exported for tests, which import these from the package.
from finetoo_sp_spark.contract._core import _template_heavy_corpus, tpch_graph  # noqa: F401
from finetoo_sp_spark.contract.q_extraction import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_tpch import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_divergence import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_dedup import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_similarity import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_textstats import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_pipeline import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_packing import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_robots import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_crawl import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_webgraph import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_multimodal import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_sketch import *  # noqa: F401,F403
from finetoo_sp_spark.contract.q_cdx import *  # noqa: F401,F403


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, fn, _ in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _REGISTRY}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end extraction over sf0.001 documents-as-pages."""
    return q_extract_main_text(spark, "/root/testdata/sf0.001")

