"""Driver contract for the spark-graft builder (PySpark target).

Thin views over the engine's declared-query registry
(``spark_ml_pipelines_example_spark.queries.registry``): every implemented
operator from SURVEY.md §2 registers a ``(spark, sf_dir) -> DataFrame``
callable plus (when SQL-expressible) its DuckDB oracle twin.

The driver hash-checks only the first ~50 entries per round, so the views
list queries in oracle-window order (``queries/oracle_window.py``): code
no driver row has checked yet first, then code changed since its last
green row, then the oldest certification. The order is computed from the
code and the committed ledger ``tools/oracle_ledger.json``; no list of
names is kept by hand.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from spark_ml_pipelines_example_spark.queries import oracle_window
from spark_ml_pipelines_example_spark.queries.registry import load_all

_REGISTRY = oracle_window.order(load_all())


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: 4-way star join
    (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region) feeding a TPC-H-Q1-style
    aggregate — exercises scan → broadcast + shuffle joins → hash aggregate
    → sort in one plan."""
    from pyspark.sql import functions as F

    from spark_ml_pipelines_example_spark.queries._util import dec_sum, t

    sf_dir = "/root/testdata/sf0.001"
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "l_returnflag")
        .agg(
            dec_sum("l_extendedprice").alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "l_returnflag")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible declared query; rows-only
    queries (approx sketches, seeded ML training, LSH) are omitted per the
    driver contract."""
    return {name: spec.oracle for name, spec in _REGISTRY.items() if spec.oracle is not None}
