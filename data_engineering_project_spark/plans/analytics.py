"""The 7-query analytics workload (reference dashboard/queries.py).

Every query takes the gold frames plus the dashboard's one dynamic
parameter — the customer-state IN-list (dashboard/app_fase1.py:133-136) —
as a real parameter, not string splicing (P6 in SURVEY.md §2.2).

Physical strategy:
- dims are broadcast (they are projections of the customer/product
  entities — small relative to the fact at every scale; the reference's
  DuckDB build did hash joins on them implicitly).
- the KPI/per-state patterns collapse to ORDER grain first (GROUP BY
  order_id) because the fact's documented PK is not actually unique
  (SURVEY.md §1.4): multi-item orders would double-count otherwise. The
  collapse is the one shuffle; the second-level aggregate is over order
  cardinality, which partial aggregation shrinks map-side.
- monetary outputs are rounded to 2dp — the reference's own display
  precision and our cross-engine comparison contract.

Serving: each query is wrapped by ``result_cache.snapshot_cached``.
Over bare local parquet scans a repeat call on an unchanged gold
snapshot returns the stored LocalRelation answer (0 Spark jobs); any
other input frame gets the lazy plan below, unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from data_engineering_project_spark.functions import (
    day_name,
    money,
    money_sum,
    month_period,
    weekday_index,
)
from data_engineering_project_spark.plans.result_cache import snapshot_cached


def _with_state(fact: DataFrame, dim_customers: DataFrame, states: Sequence[str] | None) -> DataFrame:
    """fact ⋈ broadcast(dim_customers) + optional IN-list filter (J2 + P6)."""
    joined = fact.join(broadcast(dim_customers), "customer_id", "inner")
    if states:
        joined = joined.filter(F.col("customer_state").isin(list(states)))
    return joined


@snapshot_cached
def kpis(
    fact: DataFrame, dim_customers: DataFrame, states: Sequence[str] | None = None
) -> DataFrame:
    """Headline KPIs (dashboard/queries.py:15-35, A1 two-level aggregate).

    Collapse to order grain (sum price, max delivery days, sum freight per
    order), then aggregate globally. One shuffle on order_id; the outer
    aggregate is a cheap full reduce.
    """
    per_order = (
        _with_state(fact, dim_customers, states)
        .groupBy("order_id")
        .agg(
            F.sum("price").alias("order_revenue"),
            F.max("delivery_time_days").alias("order_delivery_days"),
            F.sum("freight_value").alias("order_freight"),
        )
    )
    return per_order.agg(
        money_sum("order_revenue").alias("total_revenue"),
        F.round(F.avg("order_delivery_days"), 4).alias("avg_delivery_days"),
        F.count("*").alias("total_orders"),
        F.round(F.avg("order_freight"), 4).alias("avg_freight"),
        F.round(F.avg("order_revenue"), 4).alias("avg_order_value"),
    )


@snapshot_cached
def top_categories(
    fact: DataFrame,
    dim_products: DataFrame,
    dim_customers: DataFrame,
    states: Sequence[str] | None = None,
    k: int = 10,
) -> DataFrame:
    """Top-k categories by revenue (dashboard/queries.py:41-52; A2+O1).

    Category is the deterministic tiebreak so top-k is stable across
    engines when revenues collide.
    """
    return (
        _with_state(fact, dim_customers, states)
        .join(broadcast(dim_products), "product_id", "inner")
        .groupBy("product_category_name")
        .agg(money_sum("price").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("product_category_name"))
        .limit(k)
    )


@snapshot_cached
def orders_by_state(
    fact: DataFrame, dim_customers: DataFrame, states: Sequence[str] | None = None
) -> DataFrame:
    """COUNT(DISTINCT order_id) per state (dashboard/queries.py:55-67; A3)."""
    return (
        _with_state(fact, dim_customers, states)
        .groupBy("customer_state")
        .agg(F.countDistinct("order_id").alias("total_orders"))
        .orderBy(F.desc("total_orders"), F.asc("customer_state"))
    )


@snapshot_cached
def delivery_days_by_state(
    fact: DataFrame, dim_customers: DataFrame, states: Sequence[str] | None = None
) -> DataFrame:
    """Avg delivery days per state at order grain
    (dashboard/queries.py:74-92; A4 two-level avg: MAX per order → AVG per
    state — multi-item orders count once)."""
    per_order = (
        _with_state(fact, dim_customers, states)
        .groupBy("order_id", "customer_state")
        .agg(F.max("delivery_time_days").alias("order_delivery_days"))
    )
    return (
        per_order.groupBy("customer_state")
        .agg(F.round(F.avg("order_delivery_days"), 4).alias("avg_delivery_days"))
        .orderBy(F.desc("avg_delivery_days"), F.asc("customer_state"))
    )


@snapshot_cached
def freight_by_state(
    fact: DataFrame, dim_customers: DataFrame, states: Sequence[str] | None = None
) -> DataFrame:
    """Avg per-order freight per state (dashboard/queries.py:98-116; A4:
    SUM per order → AVG per state)."""
    per_order = (
        _with_state(fact, dim_customers, states)
        .groupBy("order_id", "customer_state")
        .agg(F.sum("freight_value").alias("order_freight"))
    )
    return (
        per_order.groupBy("customer_state")
        .agg(F.round(F.avg("order_freight"), 4).alias("avg_freight"))
        .orderBy(F.desc("avg_freight"), F.asc("customer_state"))
    )


@snapshot_cached
def monthly_trend(
    fact: DataFrame, dim_customers: DataFrame, states: Sequence[str] | None = None
) -> DataFrame:
    """Revenue per 'YYYY-MM' period (dashboard/queries.py:123-132; A2+F7)."""
    return (
        _with_state(fact, dim_customers, states)
        .groupBy(month_period("order_purchase_timestamp").alias("period"))
        .agg(money_sum("price").alias("revenue"))
        .orderBy("period")
    )


@snapshot_cached
def weekday_seasonality(
    fact: DataFrame, dim_customers: DataFrame, states: Sequence[str] | None = None
) -> DataFrame:
    """Revenue per weekday ordered Monday→Sunday
    (dashboard/queries.py:138-155; A2+F8+O4 CASE-ladder sort)."""
    by_day = (
        _with_state(fact, dim_customers, states)
        .groupBy(day_name("order_purchase_timestamp").alias("day_of_week"))
        .agg(money_sum("price").alias("revenue"))
    )
    return by_day.orderBy(weekday_index("day_of_week")).select("day_of_week", "revenue")
