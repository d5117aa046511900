"""Incremental ingestion plan — the reference's Phase 2
(scripts/esplosione_dati.py + scripts/bronze_incremental.py; SURVEY.md
§2.9 I1–I5 and §3.2).

Three layers of exactly-once, replicated faithfully:

1. **File level** — content fingerprint per landing file; unchanged
   files are skipped entirely (manifest + ledger, I1).
2. **Row level** — a *changed* file re-delivers old rows, so new orders
   are staged with an anti-join against bronze (J5) and items are
   scoped to the new orders (semi-join, J6) then anti-dupped on the
   composite key (I2).
3. **Ledger** — per-file upsert with rows_in/rows_inserted/status
   (I4), making re-runs observable no-ops (I5).

Scale notes: the fingerprint is computed distributed (count + min/max
ts + an order-insensitive sum of per-row xxhash64 — commutative, so
partitioning doesn't matter and nothing is collected but 4 scalars).
The anti-join's right side is the bronze key projection only; the
incoming batch (a month) is small relative to bronze, so Spark/AQE
broadcasts the batch side. Nothing in this module iterates rows on the
driver.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark.operators.joins import anti_join, semi_join
from data_engineering_project_spark.sources.control_table import (
    LEDGER_SCHEMA,
    ControlTable,
)
from data_engineering_project_spark.sources.manifest import (
    fingerprint_changed,
    load_manifest,
    record_file,
    save_manifest,
)


@dataclass(frozen=True)
class IncrementalSpec:
    """Natural keys for the row-level dedup layers."""

    order_key: str  # e.g. o_orderkey  (anti-dup key for orders)
    item_order_key: str  # e.g. l_orderkey  (semi-join scope key)
    item_line_key: str  # e.g. l_linenumber (composite anti-dup key part)
    ts_col: str  # e.g. o_orderdate  (monthly split column)


def content_fingerprint(df: DataFrame, key_col: str, ts_col: str | None = None) -> str:
    """Order-insensitive content fingerprint of a batch.

    The reference fingerprints (rowcount, min_ts, max_ts, md5 of sorted
    keys) driver-side in Pandas (scripts/esplosione_dati.py:50-103).
    Same signal here, but distributed: SUM(xxhash64(key)) is commutative
    and associative, so it is stable under any partitioning, and only
    four scalars reach the driver.
    """
    aggs = [
        F.count("*").alias("n"),
        # decimal(38,0) accumulator: order-insensitive like the long sum,
        # but immune to ANSI-mode overflow (sum of n × ±2^63 fits easily).
        F.sum(F.xxhash64(F.col(key_col).cast("string")).cast("decimal(38,0)")).alias("keyhash"),
    ]
    if ts_col:
        aggs += [F.min(ts_col).alias("min_ts"), F.max(ts_col).alias("max_ts")]
    row = df.agg(*aggs).collect()[0]
    parts = [str(row["n"]), str(row["keyhash"])]
    if ts_col:
        parts += [str(row["min_ts"]), str(row["max_ts"])]
    return "|".join(parts)


def split_monthly(df: DataFrame, ts_col: str) -> DataFrame:
    """Tag rows with their 'YYYY-MM' landing period
    (scripts/esplosione_dati.py:131-143)."""
    return df.withColumn("order_month", F.date_format(F.col(ts_col), "yyyy-MM"))


def land_monthly(
    df: DataFrame, ts_col: str, key_col: str, landing_dir: str
) -> dict[str, int]:
    """Landing-zone writer: month-partitioned parquet + manifest.

    Only months whose fingerprint moved are (re)written — the
    reference's write-if-changed (scripts/esplosione_dati.py:147-154).
    Returns {period: rows_written}.
    """
    manifest_path = os.path.join(landing_dir, "_manifest.json")
    manifest = load_manifest(manifest_path)
    tagged = split_monthly(df, ts_col).cache()
    try:
        # One distributed pass for all per-month fingerprints.
        stats = (
            tagged.groupBy("order_month")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64(F.col(key_col).cast("string")).cast("decimal(38,0)")).alias("keyhash"),
                F.min(ts_col).alias("min_ts"),
                F.max(ts_col).alias("max_ts"),
            )
            .collect()
        )
        written: dict[str, int] = {}
        for row in stats:
            period = row["order_month"]
            fp = f"{row['n']}|{row['keyhash']}|{row['min_ts']}|{row['max_ts']}"
            fname = f"orders_{period}.parquet"
            if not fingerprint_changed(manifest, fname, fp):
                continue
            (
                tagged.filter(F.col("order_month") == period)
                .drop("order_month")
                .write.mode("overwrite")
                .parquet(os.path.join(landing_dir, fname))
            )
            record_file(manifest, fname, fp, row["n"])
            written[period] = row["n"]
        save_manifest(manifest_path, manifest)
        return written
    finally:
        tagged.unpersist()


def merge_aggregate(
    existing: DataFrame | None,
    new_partial: DataFrame,
    keys: list[str],
    sums: list[str],
    counts: list[str] = (),
) -> DataFrame:
    """Incremental aggregate maintenance: fold a new batch's partial
    aggregate into a materialized one without touching history.

    ``existing`` and ``new_partial`` share the schema (keys + additive
    measures). Additive measures (SUM, COUNT) merge by key with one
    union + re-aggregate whose input is |existing keys| + |new keys|
    rows — at 100 TB the rebuild-from-scratch alternative rescans the
    whole fact table to refresh one month. Non-additive measures (AVG,
    percentiles) should be stored as their additive parts (sum + count)
    and finalized at read time.
    """
    if existing is None:
        return new_partial
    measures = [F.sum(c).alias(c) for c in [*sums, *counts]]
    return (
        existing.unionByName(new_partial)
        .groupBy(*keys)
        .agg(*measures)
    )


def dq_check(df: DataFrame, key_cols: list[str], non_negative: list[str]) -> dict[str, int]:
    """The incremental DQ gate (scripts/bronze_incremental.py:68-106):
    non-empty batch, no null keys, no negative measures. One aggregate
    pass; raises on violation (fail-fast, I5)."""
    aggs = [F.count("*").alias("rows_in")]
    for c in key_cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"null_{c}"))
    for c in non_negative:
        aggs.append(F.sum(F.when(F.col(c) < 0, 1).otherwise(0)).cast("long").alias(f"neg_{c}"))
    row = df.agg(*aggs).collect()[0].asDict()
    if row["rows_in"] == 0:
        raise ValueError("DQ: empty batch")
    violations = {k: v for k, v in row.items() if k != "rows_in" and v}
    if violations:
        raise ValueError(f"DQ violations: {violations}")
    return row


def append_new_orders(
    spark: SparkSession, bronze_orders_dir: str, incoming: DataFrame, spec: IncrementalSpec
) -> tuple[DataFrame, int]:
    """Row-level exactly-once append of orders (I2/J5):
    NOT EXISTS staging → append (scripts/bronze_incremental.py:274-289).
    Returns the staged new orders (they scope the items append) and
    their count."""
    if os.path.exists(bronze_orders_dir):
        existing_keys = spark.read.parquet(bronze_orders_dir).select(spec.order_key)
        fresh = anti_join(incoming, existing_keys, [spec.order_key])
    else:
        fresh = incoming
    # Stage before writing (the reference's TEMP TABLE, S10): appending to
    # bronze refreshes any plan that scans it, so the anti-join must be
    # materialized with its lineage cut first or it would re-evaluate
    # against its own output and vanish — a cache() is NOT enough (the
    # path refresh invalidates it too).
    fresh = fresh.localCheckpoint(eager=True)
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(bronze_orders_dir)
    return fresh, n


def append_new_items(
    spark: SparkSession,
    bronze_items_dir: str,
    incoming_items: DataFrame,
    new_orders: DataFrame,
    spec: IncrementalSpec,
) -> int:
    """Items scoped to newly inserted orders (J6 semi-join,
    scripts/bronze_incremental.py:304-307), anti-dupped on the
    composite (order, line) key (:308-313), then appended."""
    scope_keys = new_orders.select(F.col(spec.order_key).alias(spec.item_order_key))
    scoped = semi_join(incoming_items, scope_keys, [spec.item_order_key], broadcast_right=True)
    if os.path.exists(bronze_items_dir):
        existing = spark.read.parquet(bronze_items_dir).select(
            spec.item_order_key, spec.item_line_key
        )
        scoped = anti_join(scoped, existing, [spec.item_order_key, spec.item_line_key])
    # Stage (TEMP TABLE equivalent, S10) before the self-referential append.
    scoped = scoped.localCheckpoint(eager=True)
    n = scoped.count()
    if n:
        scoped.write.mode("append").parquet(bronze_items_dir)
    return n


def replace_dimension(
    spark: SparkSession,
    bronze_dir: str,
    incoming: DataFrame,
    key_col: str,
    ledger: ControlTable,
    file_name: str,
) -> bool:
    """Dimension full-refresh-on-change (I3,
    scripts/bronze_incremental.py:199-219). Returns True if replaced."""
    fp = content_fingerprint(incoming, key_col)
    if (file_name, fp) in ledger.processed_ok():
        _log_ledger(spark, ledger, file_name, fp, 0, 0, "SKIP", "SKIP: unchanged")
        return False
    rows = incoming.count()
    incoming.write.mode("overwrite").parquet(bronze_dir)
    _log_ledger(spark, ledger, file_name, fp, rows, rows, "OK", "replaced")
    return True


def _log_ledger(
    spark: SparkSession,
    ledger: ControlTable,
    file_name: str,
    fingerprint: str,
    rows_in: int,
    rows_inserted: int,
    status: str,
    note: str,
) -> None:
    record = spark.createDataFrame(
        [
            (
                file_name,
                fingerprint,
                datetime.now(timezone.utc).replace(tzinfo=None),
                rows_in,
                rows_inserted,
                status,
                note,
            )
        ],
        LEDGER_SCHEMA,
    )
    ledger.upsert(record)


def run_incremental(
    spark: SparkSession,
    landing_dir: str,
    bronze_dir: str,
    spec: IncrementalSpec,
    items_source: DataFrame,
) -> dict[str, dict[str, int]]:
    """Manifest-driven bronze incremental
    (scripts/bronze_incremental.py:181-357).

    For each landed month file: skip if (file, fingerprint) already in
    the ledger (file-level exactly-once) → DQ gate → anti-dup append of
    orders → semi-scoped anti-dupped append of their items → ledger
    upsert. Idempotent: a second run over the same landing zone inserts
    0 rows and logs SKIP.
    """
    ledger = ControlTable(spark, os.path.join(bronze_dir, "tech_processed_files"))
    done = ledger.processed_ok()
    orders_dir = os.path.join(bronze_dir, "orders")
    items_dir = os.path.join(bronze_dir, "order_items")
    results: dict[str, dict[str, int]] = {}

    month_files = sorted(
        f for f in os.listdir(landing_dir)
        if f.startswith("orders_") and f.endswith(".parquet")
    )
    for fname in month_files:
        batch = spark.read.parquet(os.path.join(landing_dir, fname))
        fp = content_fingerprint(batch, spec.order_key, spec.ts_col)
        if (fname, fp) in done:
            _log_ledger(spark, ledger, fname, fp, 0, 0, "SKIP", "SKIP: unchanged")
            results[fname] = {"rows_in": 0, "orders_inserted": 0, "items_inserted": 0}
            continue
        stats = dq_check(batch, [spec.order_key], [])
        fresh, n_orders = append_new_orders(spark, orders_dir, batch, spec)
        n_items = append_new_items(spark, items_dir, items_source, fresh, spec)
        _log_ledger(
            spark, ledger, fname, fp, stats["rows_in"], n_orders, "OK",
            f"orders+{n_orders} items+{n_items}",
        )
        results[fname] = {
            "rows_in": stats["rows_in"],
            "orders_inserted": n_orders,
            "items_inserted": n_items,
        }
    return results


def scd2_apply(
    dim: DataFrame | None,
    updates: DataFrame,
    key: str,
    attrs: list[str],
    effective_ts: str,
) -> DataFrame:
    """Slowly-changing-dimension type 2: versioned dimension history.

    The reference replaces dimensions wholesale on change (I3,
    scripts/bronze_incremental.py:199-219), which loses history — a
    fact row joined to today's dim reads TODAY's attributes. SCD2 keeps
    every version: rows carry (valid_from, valid_to, is_current), and a
    fact joins the version valid at its event time (an as-of join,
    operators/asof.py).

    One batch application = one join of the update batch against the
    CURRENT slice on the key:
      - new keys        → inserted open rows
      - changed attrs   → current row closed (valid_to = effective_ts),
                          new open row inserted
      - unchanged rows  → untouched (re-applying a batch is a no-op)
    History rows never rewrite, so the plan cost is O(|updates| join
    |current|), not O(|history|) — the update batch broadcasts when
    small. ``effective_ts`` is an ISO timestamp string pinned by the
    caller (never now(): task retries must produce identical output).
    """
    upd = updates.select(key, *attrs)
    from_ts = F.lit(effective_ts).cast("timestamp")
    if dim is None:
        return upd.select(
            key,
            *attrs,
            from_ts.alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    current = dim.filter(F.col("is_current"))
    history = dim.filter(~F.col("is_current"))

    cur_k = current.select(
        F.col(key),
        F.lit(True).alias("__cur_present"),
        *[F.col(a).alias(f"__cur_{a}") for a in attrs],
    )
    joined = upd.join(cur_k, key, "left")
    changed_pred = F.lit(False)
    for a in attrs:
        changed_pred = changed_pred | ~F.col(a).eqNullSafe(F.col(f"__cur_{a}"))
    # presence flag, not an attr null-check: a legitimately-NULL
    # attribute on the current row must not read as "new key"
    is_new = F.col("__cur_present").isNull()
    # rows needing a new version: brand-new key, or any attr changed
    to_open = joined.filter(is_new | changed_pred).select(key, *attrs)

    changed_keys = to_open.select(key)
    closed = (
        current.join(changed_keys, key, "left_semi")
        .withColumn("valid_to", from_ts)
        .withColumn("is_current", F.lit(False))
    )
    untouched_current = current.join(changed_keys, key, "left_anti")
    opened = to_open.select(
        key,
        *attrs,
        from_ts.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    cols = [key, *attrs, "valid_from", "valid_to", "is_current"]
    return (
        history.select(*cols)
        .unionByName(closed.select(*cols))
        .unionByName(untouched_current.select(*cols))
        .unionByName(opened.select(*cols))
    )
