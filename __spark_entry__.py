"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (spatial join of geotagged events
against granule footprints → per-tile counts) at sf0.001. ``queries()`` /
``oracle_sql()`` expose every implemented operator from SURVEY.md §2 with
its DuckDB oracle (see copernicusdata_jl_spark/queries/).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executor Python workers via addPyFile — the
    spark-submit --py-files mechanism (north rule), so the engine works no
    matter where the driver process was launched from."""
    if getattr(spark, "_cdjl_shipped", False):
        return
    from copernicusdata_jl_spark.session import build_py_files_zip

    zpath = os.path.join(spark.sparkContext._temp_dir, "copernicusdata_jl_spark.zip")
    build_py_files_zip(zpath)
    spark.sparkContext.addPyFile(zpath)
    spark._cdjl_shipped = True


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages (url, warc_ts, html, lang, lat, lon) → Arrow HTML
    extraction + digest → url dedup → cell index → broadcast cover join +
    PIP refine → per-tile doc counts. Page count scaled to the sf0.001
    smoke tier; the same pipeline is what bench.py and perfbench's
    ``pages_neardup`` workload measure at size."""
    from copernicusdata_jl_spark.flagship import build_pages, flagship_pipeline

    _ensure_shipped(spark)

    pages = build_pages(spark, 4000, partitions=8)
    return flagship_pipeline(pages)["tiles"].orderBy("tile_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from copernicusdata_jl_spark.queries import REGISTRY

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_shipped(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(q.plan) for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    from copernicusdata_jl_spark.queries import REGISTRY

    return {name: q.oracle for name, q in REGISTRY.items()}
