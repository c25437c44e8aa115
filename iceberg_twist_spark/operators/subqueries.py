"""Subqueries & CTEs — the decorrelation surface.

SURVEY §4.2 lists subquery decorrelation (RewriteCorrelatedScalarSubquery,
EXISTS/IN → semi/anti join) among the Catalyst rewrites the engine relies
on; these queries exercise that surface directly through ``spark.sql`` so
the analyzer's subquery path — not a hand-rewritten join — plans them.
Shapes follow TPC-H Q17/Q18/Q22/Q15, scaled to the testdata fixtures.

Scale notes (100 TB): every subquery here decorrelates to a join or a
broadcast scalar — no per-row re-execution. EXISTS/IN become left-semi
hash joins (shuffle on the correlation key); NOT EXISTS becomes
left-anti; an uncorrelated scalar folds to a one-row broadcast; the
correlated scalar (Q17 shape) becomes an aggregate on the correlation
key joined back — shuffle volume is |distinct keys|, not |rows|².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iceberg_twist_spark.catalog import register_views
from iceberg_twist_spark.registry import register

_IN_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200
)
"""


@register("q_subq_in", oracle=_IN_SQL, tags=("subquery",))
def q_subq_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN + grouped HAVING subquery (TPC-H Q18 shape) → left-semi join."""
    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_IN_SQL)


_EXISTS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
"""


@register("q_subq_exists", oracle=_EXISTS_SQL, tags=("subquery",))
def q_subq_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS → left-semi join after decorrelation."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_EXISTS_SQL)


_NOT_EXISTS_SQL = """
SELECT c.c_mktsegment,
       count(*) AS numcust,
       floor((sum(c.c_acctbal)) * 10000 + 0.5) / 10000 AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
GROUP BY c.c_mktsegment
"""

_NOT_EXISTS_ORACLE = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS numcust,
       floor((sum(c.c_acctbal)) * 10000 + 0.5) / 10000 AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
GROUP BY c.c_mktsegment
"""


@register("q_subq_not_exists", oracle=_NOT_EXISTS_ORACLE, tags=("subquery",))
def q_subq_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar + NOT EXISTS (TPC-H Q22 shape) → anti join."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_NOT_EXISTS_SQL)


_SCALAR_SQL = """
SELECT p_partkey, p_retailprice
FROM part
WHERE p_retailprice > 5.0 + (SELECT avg(p_retailprice) FROM part)
"""


@register("q_subq_scalar", oracle=_SCALAR_SQL, tags=("subquery",))
def q_subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery — folds to a one-row broadcast."""
    register_views(spark, sf_dir, ("part",))
    return spark.sql(_SCALAR_SQL)


_CORR_SCALAR_SQL = """
SELECT l.l_orderkey, l.l_partkey, l.l_quantity
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (
      SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
  )
"""


@register("q_subq_corr_scalar", oracle=_CORR_SCALAR_SQL, tags=("subquery",))
def q_subq_corr_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape).

    Decorrelates to a per-partkey aggregate joined back to the probe —
    the aggregate shuffles |distinct parts|, not |lineitem| rows.
    """
    register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_CORR_SCALAR_SQL)


_CTE_SQL = """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           floor((sum(l_extendedprice * (1 - l_discount))) * 10000 + 0.5) / 10000
               AS total_revenue
    FROM lineitem
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("q_cte_top_supplier", oracle=_CTE_SQL, tags=("subquery", "cte"))
def q_cte_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE referenced twice + scalar max (TPC-H Q15 shape).

    The rounded revenue makes the max-equality exact on both engines:
    equal long numerators ÷ 1e4 give bit-equal doubles.
    """
    register_views(spark, sf_dir, ("lineitem", "supplier"))
    return spark.sql(_CTE_SQL)
