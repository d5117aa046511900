"""Medallion plan: silver typing + gold star schema, parameterized.

The reference hardwires Olist column names into each CTAS statement
(etl/tasks/silver.py:29-56, etl/tasks/gold.py:12-65). Here the same
semantics are a parameterized builder so one code path serves both
Olist-shaped data and the driver's TPC-H-ish testdata:

- silver: explicit casts to canonical types + null-key / status-domain
  filters (etl/tasks/silver.py:35-39).
- gold:
  * ``dim_customers`` — projection of the customer entity
    (etl/tasks/gold.py:12-19)
  * ``dim_products`` — projection of the product entity
    (etl/tasks/gold.py:22-28)
  * ``dim_time`` — DISTINCT purchase dates at daily grain with
    day/month/year/quarter/day_of_week attributes (etl/tasks/gold.py:31-47)
  * ``fact_sales`` — orders ⋈ items (1:N, item grain out), completed
    orders only, with derived ``delivery_time_days`` = day-boundary diff
    (etl/tasks/gold.py:51-65)

Scale notes (100 TB design):
- The fact build is the one big shuffle (orders ⋈ items on the order
  key). Both sides arrive key-partitioned if the lake is bucketed by
  order key; otherwise AQE handles it. Nothing else shuffles: dims are
  narrow projections, and dim_time's DISTINCT is over dates only
  (cardinality = days, tiny after partial aggregation).
- Dims are small by construction → always broadcast on the serving side
  (see plans/analytics.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark.functions import day_name, delivery_days
from data_engineering_project_spark.sources.parquet import load


@dataclass(frozen=True)
class StarSchemaSpec:
    """Column mapping from source entities to the star schema."""

    # orders entity
    order_key: str
    customer_key: str
    order_status: str
    purchase_ts: str
    completed_status: str  # reference: 'delivered' (etl/tasks/gold.py:64)
    delivered_ts: str | None  # null → delivery_time_days comes from item side
    # items entity (1:N with orders)
    item_order_key: str
    product_key: str
    price: str
    freight: str
    item_event_ts: str | None = None  # per-item ship ts (delivery analog)
    # customer entity
    cust_key: str = ""
    cust_attrs: dict[str, str] = field(default_factory=dict)
    # product entity
    prod_key: str = ""
    prod_attrs: dict[str, str] = field(default_factory=dict)
    # Key typing: Olist IDs are genuinely VARCHAR (hash strings), so the
    # Olist spec casts keys to string for reference fidelity. Sources
    # with native integer keys (the TPC-H-ish testdata) keep them —
    # string-cast keys would double shuffle width and add per-row cast
    # work on every join at 100 TB for no semantic gain.
    cast_keys_to_string: bool = True


# The driver's TPC-H-ish tables in Olist roles (FIXTURES.md §3):
# o_orderstatus 'F' plays 'delivered'; l_shipdate plays the delivered
# timestamp (per item); l_discount*l_extendedprice plays freight_value.
TESTDATA_SPEC = StarSchemaSpec(
    order_key="o_orderkey",
    customer_key="o_custkey",
    order_status="o_orderstatus",
    purchase_ts="o_orderdate",
    completed_status="F",
    delivered_ts=None,
    item_order_key="l_orderkey",
    product_key="l_partkey",
    price="l_extendedprice",
    freight="l_discount",
    item_event_ts="l_shipdate",
    cust_key="c_custkey",
    cust_attrs={"customer_city": "c_name", "customer_state": "c_mktsegment"},
    prod_key="p_partkey",
    prod_attrs={"product_category_name": "p_type"},
    cast_keys_to_string=False,
)


def _key(col_name: str, spec: StarSchemaSpec) -> F.Column:
    c = F.col(col_name)
    return c.cast("string") if spec.cast_keys_to_string else c


def silver_orders(orders_raw: DataFrame, spec: StarSchemaSpec) -> DataFrame:
    """Silver typing + the null-key gate (etl/tasks/silver.py:29-40)."""
    cols = [
        _key(spec.order_key, spec).alias("order_id"),
        _key(spec.customer_key, spec).alias("customer_id"),
        F.col(spec.order_status).cast("string").alias("order_status"),
        F.col(spec.purchase_ts).cast("timestamp").alias("order_purchase_timestamp"),
    ]
    if spec.delivered_ts:
        cols.append(
            F.col(spec.delivered_ts).cast("timestamp").alias("order_delivered_customer_date")
        )
    return orders_raw.select(*cols).filter(F.col("order_id").isNotNull())


def silver_items(items_raw: DataFrame, spec: StarSchemaSpec) -> DataFrame:
    """Silver typing of the item entity (etl/tasks/silver.py:46-56)."""
    cols = [
        _key(spec.item_order_key, spec).alias("order_id"),
        _key(spec.product_key, spec).alias("product_id"),
        F.col(spec.price).cast("double").alias("price"),
        F.col(spec.freight).cast("double").alias("freight_value"),
    ]
    if spec.item_event_ts:
        cols.append(F.col(spec.item_event_ts).cast("timestamp").alias("item_event_ts"))
    return items_raw.select(*cols)


def gold_dim_customers(customers_raw: DataFrame, spec: StarSchemaSpec) -> DataFrame:
    """dim_customers projection (etl/tasks/gold.py:12-19)."""
    cols = [_key(spec.cust_key, spec).alias("customer_id")]
    cols += [F.col(src).cast("string").alias(dst) for dst, src in spec.cust_attrs.items()]
    return customers_raw.select(*cols)


def gold_dim_products(products_raw: DataFrame, spec: StarSchemaSpec) -> DataFrame:
    """dim_products projection (etl/tasks/gold.py:22-28)."""
    cols = [_key(spec.prod_key, spec).alias("product_id")]
    cols += [F.col(src).cast("string").alias(dst) for dst, src in spec.prod_attrs.items()]
    return products_raw.select(*cols)


def gold_dim_time(orders_silver: DataFrame) -> DataFrame:
    """dim_time at daily grain (etl/tasks/gold.py:31-47).

    Keyed on DATE (not raw timestamp — see SURVEY.md §1.4 on the
    reference's documented-vs-actual key mismatch; fact→time joins go
    through ``to_date(order_purchase_timestamp)``).
    DISTINCT over a date is a cheap partial-agg shuffle: post-combine
    cardinality is the number of distinct days regardless of fact size.
    """
    d = F.col("order_date")
    return (
        orders_silver.filter(F.col("order_purchase_timestamp").isNotNull())
        .select(F.to_date("order_purchase_timestamp").alias("order_date"))
        .distinct()
        .select(
            d,
            F.dayofmonth(d).alias("day"),
            F.month(d).alias("month"),
            F.year(d).alias("year"),
            F.quarter(d).alias("quarter"),
            day_name(d).alias("day_of_week"),
        )
    )


def gold_fact_sales(
    orders_silver: DataFrame, items_silver: DataFrame, spec: StarSchemaSpec
) -> DataFrame:
    """fact_sales: item grain, completed orders only (etl/tasks/gold.py:51-65).

    The status filter runs BEFORE the join (predicate pushdown to the
    orders scan shrinks the shuffle's build side ~3× on testdata, more on
    Olist where ~97% are delivered — there it flips: still worth pushing).
    delivery_time_days = day-boundary crossings purchase→delivery (F6).
    """
    completed = orders_silver.filter(F.col("order_status") == spec.completed_status)
    delivered_col = (
        F.col("order_delivered_customer_date") if spec.delivered_ts else F.col("item_event_ts")
    )
    joined = completed.join(items_silver, "order_id", "inner")
    return joined.select(
        "order_id",
        "customer_id",
        "product_id",
        "price",
        "freight_value",
        "order_purchase_timestamp",
        delivery_days(F.col("order_purchase_timestamp"), delivered_col).alias(
            "delivery_time_days"
        ),
    )


def build_star_schema(
    orders_raw: DataFrame,
    items_raw: DataFrame,
    customers_raw: DataFrame,
    products_raw: DataFrame,
    spec: StarSchemaSpec = TESTDATA_SPEC,
) -> dict[str, DataFrame]:
    """Full gold build — the reference's build_olist_star_schema
    (etl/tasks/gold.py:4-68) as lazy DataFrames keyed by table name."""
    orders_s = silver_orders(orders_raw, spec)
    items_s = silver_items(items_raw, spec)
    return {
        "dim_customers": gold_dim_customers(customers_raw, spec),
        "dim_products": gold_dim_products(products_raw, spec),
        "dim_time": gold_dim_time(orders_s),
        "fact_sales": gold_fact_sales(orders_s, items_s, spec),
    }


def gold(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Build the gold star schema lazily from the testdata tables."""
    return build_star_schema(
        orders_raw=load(spark, sf_dir, "orders"),
        items_raw=load(spark, sf_dir, "lineitem"),
        customers_raw=load(spark, sf_dir, "customer"),
        products_raw=load(spark, sf_dir, "part"),
        spec=TESTDATA_SPEC,
    )
