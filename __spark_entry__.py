"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` exposes one entry
per implemented operator from SURVEY.md §2, in declaration order;
``oracle_sql()`` gives the DuckDB oracle of every declared query: SQL
that recomputes the result, or a pinned parquet fixture for the
kernels whose math is not SQL-expressible. Tier-1 compares every
query with its oracle (tests/test_registry_smoke.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _ship_package(spark: SparkSession) -> None:
    """Make ``physioview_spark`` importable on executor Python workers
    regardless of the host process's CWD/PYTHONPATH: zip the package
    next to this file once per session and ``addPyFile`` it. Local-mode
    workers inherit the driver's PYTHONPATH env var but NOT driver-side
    ``sys.path`` mutations, so a harness that imports this module from
    a foreign working directory would otherwise lose every
    mapInPandas/pandas-UDF query to ModuleNotFoundError on the
    executors. Idempotent and ~0.2 MB."""
    sc = spark.sparkContext
    if getattr(sc, "_pv_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    here = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(here, "physioview_spark")
    zpath = os.path.join(tempfile.gettempdir(),
                         f"physioview_spark_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(pkg):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, here))
    sc.addPyFile(zpath)
    sc._pv_pkg_shipped = True


def _with_shipped(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)
    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def _registry():
    from physioview_spark.plans import queries_relational

    modules = [queries_relational]
    try:
        from physioview_spark.plans import queries_llm
        modules.append(queries_llm)
    except ImportError:
        pass
    try:
        from physioview_spark.plans import queries_kernels
        modules.append(queries_kernels)
    except ImportError:
        pass
    qs: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for m in modules:
        qs.update(m.QUERIES)
        oracles.update(m.ORACLE)
    qs = {n: _with_shipped(fn) for n, fn in qs.items()}
    return qs, oracles


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: segmented SQA artifact
    metrics over the events stream (A1+P5+P7 through the engine library)."""
    qs, _ = _registry()
    return qs["sqa_segment_artifacts"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry()[0]


def oracle_sql() -> dict[str, str]:
    return _registry()[1]
