"""Read-only SQL serving surface — the text-to-SQL execution target
(reference dashboard/ai_utils.py:9-66, app_fase1.py:269-275).

The reference lets an LLM generate SQL and runs it on a *read-only*
DuckDB connection after sanitization. The Spark equivalent:

- gold tables registered as temp views → ``spark.sql`` over views only
  (views cannot be written through; the session exposed to serving
  never holds lake write paths).
- the same sanitizer: strip markdown fences, leading prose, trailing
  semicolon; then a statement gate — single statement, must start with
  SELECT/WITH, no DDL/DML keywords anywhere (ai_utils.py:34-41,49-66).
- the generation *prompt* is re-targeted to the Spark SQL dialect
  (``date_format`` not ``strftime`` etc., SURVEY.md §2.11).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

_FENCE = re.compile(r"```(?:sql)?\s*|```", re.IGNORECASE)
_FORBIDDEN = re.compile(
    r"\b(insert|update|delete|merge|drop|create|alter|truncate|grant|revoke|"
    r"set|refresh|cache|uncache|msck|analyze|call|use)\b",
    re.IGNORECASE,
)


class UnsafeSQLError(ValueError):
    pass


def sanitize_sql(raw: str) -> str:
    """Strip markdown fences / prose, keep from the first WITH|SELECT,
    drop trailing semicolon (ai_utils.py:49-66)."""
    text = _FENCE.sub(" ", raw)
    match = re.search(r"\b(WITH|SELECT)\b", text, re.IGNORECASE)
    if not match:
        raise UnsafeSQLError("no SELECT/WITH statement found")
    stmt = text[match.start() :].strip().rstrip(";").strip()
    return stmt


def guard_select_only(sql: str) -> str:
    """Reject anything but a single read-only statement."""
    if ";" in sql:
        raise UnsafeSQLError("multiple statements are not allowed")
    if not re.match(r"^\s*(WITH|SELECT)\b", sql, re.IGNORECASE):
        raise UnsafeSQLError("only SELECT/WITH queries are allowed")
    if _FORBIDDEN.search(sql):
        raise UnsafeSQLError("statement contains a forbidden keyword")
    return sql


def register_gold_views(spark: SparkSession, gold: dict[str, DataFrame]) -> None:
    """Expose the star schema to the SQL surface as temp views
    (read-only by construction)."""
    for name, df in gold.items():
        df.createOrReplaceTempView(name)


def run_readonly_sql(spark: SparkSession, raw_sql: str) -> DataFrame:
    """Sanitize → guard → execute. The full text-to-SQL execution path
    minus the LLM call itself (network-free by design here; the caller
    supplies the generated text).

    Unparseable text that slipped past the keyword gates (e.g. prose
    containing the word "with") surfaces as UnsafeSQLError too, so
    callers have ONE exception type for "the generation was not a safe
    query" — the analyzer still runs only after the statement passed
    the read-only guard."""
    from pyspark.errors import ParseException

    stmt = guard_select_only(sanitize_sql(raw_sql))
    try:
        return spark.sql(stmt)
    except ParseException as exc:
        raise UnsafeSQLError(f"generated text is not valid SQL: {exc}") from exc


# Prompt template for the SQL generator, re-targeted to Spark SQL
# (the reference's Gemini prompt with DuckDB idioms swapped out,
# ai_utils.py:15-47). Kept as data: the engine does not call any LLM.
TEXT_TO_SQL_PROMPT = """You translate business questions into Spark SQL.
Rules:
- Output ONE SELECT (or WITH...SELECT) statement, no DDL/DML, no comments.
- Use only these tables: fact_sales(order_id, customer_id, product_id,
  price, freight_value, order_purchase_timestamp, delivery_time_days),
  dim_customers(customer_id, customer_city, customer_state),
  dim_products(product_id, product_category_name),
  dim_time(order_date, day, month, year, quarter, day_of_week).
- Canonical aliases: SUM(price) AS total_revenue,
  COUNT(DISTINCT order_id) AS total_orders.
- Spark SQL dialect: date_format(ts, 'yyyy-MM') for month periods,
  date_format(ts, 'EEEE') for weekday names, to_date(ts) to join
  fact_sales to dim_time(order_date).
Question: {question}
"""


def cache_gold_views(
    spark: SparkSession, gold: dict[str, DataFrame], eager: bool = True
) -> None:
    """Register the gold tables as CACHED views — the serving-layer
    optimization the reference's dashboard implies (app_fase1 re-runs
    all 7 queries on every sidebar interaction; DuckDB pays a re-scan
    each time, Spark should answer from the in-memory columnar cache).

    ``eager=True`` materializes each cache immediately (one count per
    table) so the FIRST dashboard interaction is already warm. Caches
    are storage-level MEMORY_AND_DISK: a cache larger than executor
    memory degrades to disk instead of failing. Call
    ``uncache_gold_views`` (or restart the session) after a gold
    rebuild — a stale cache serves the OLD snapshot by design
    (dashboards want a consistent snapshot, not torn reads).

    This caches table *inputs*, which text-to-SQL (never result-cached)
    reads. The seven fixed dashboard queries also have a *result* cache
    (``plans/result_cache.py``) keyed by the gold files' identity; it
    needs no uncache after a rebuild, and a miss there reads through
    this cache like any other query.
    """
    for name, df in gold.items():
        cached = df.cache()
        cached.createOrReplaceTempView(name)
        if eager:
            cached.count()


def uncache_gold_views(spark: SparkSession, names: list[str]) -> None:
    for name in names:
        spark.catalog.uncacheTable(name)
