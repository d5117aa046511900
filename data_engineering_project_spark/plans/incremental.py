"""Incremental ingestion plan — the reference's Phase 2
(scripts/esplosione_dati.py + scripts/bronze_incremental.py; SURVEY.md
§2.9 I1–I5 and §3.2).

Three layers of exactly-once, replicated faithfully:

1. **File level** — content fingerprint per landing file; unchanged
   files are skipped entirely (manifest + ledger, I1). The landing
   writer records each month's fingerprint in ``_manifest.json``, and
   the bronze step reads it from there; only files the manifest does
   not describe are fingerprinted again, all in one grouped aggregate.
2. **Row level** — a *changed* file re-delivers old rows, so new orders
   are staged with an anti-join against bronze (J5) and items are
   scoped to the new orders (semi-join, J6) then anti-dupped on the
   composite key (I2). Items are appended before their orders, so a
   crash between the two appends is repaired by the replay: the orders
   are still new, and the items already appended are anti-dupped away.
3. **Ledger** — one row per file with rows_in/rows_inserted/status
   (I4), making re-runs observable no-ops (I5). A run collects every
   file's row and upserts them in one ledger write at the end, which is
   the run's commit point: a crash before it leaves bronze rows the
   replay's anti-joins skip, so the replay inserts nothing twice.

Scale notes: the fingerprint is computed distributed (count + min/max
ts + an order-insensitive sum of per-row xxhash64 — commutative, so
partitioning doesn't matter and nothing is collected but 4 scalars).
The anti-join's right side is the bronze key projection only; the
incoming batch (a month) is small relative to bronze, so Spark/AQE
broadcasts the batch side. The DQ gate's counts are observed on the
batch while the new orders are staged, so they cost no extra pass.
Nothing in this module iterates data rows on the driver; the ledger it
merges there holds one row per file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from data_engineering_project_spark.operators.joins import anti_join, semi_join
from data_engineering_project_spark.sources.control_table import ControlTable
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


def _fingerprint_aggs(key_col: str, ts_col: str | None) -> list:
    aggs = [
        F.count("*").alias("n"),
        # decimal(38,0) accumulator: order-insensitive like the long sum,
        # but immune to ANSI-mode overflow (sum of n × ±2^63 fits easily).
        F.sum(F.xxhash64(F.col(key_col).cast("string")).cast("decimal(38,0)")).alias("keyhash"),
    ]
    if ts_col:
        aggs += [F.min(ts_col).alias("min_ts"), F.max(ts_col).alias("max_ts")]
    return aggs


def _fingerprint_str(row, ts_col: str | None) -> str:
    parts = [str(row["n"]), str(row["keyhash"])]
    if ts_col:
        parts += [str(row["min_ts"]), str(row["max_ts"])]
    return "|".join(parts)


def _fingerprint(df: DataFrame, key_col: str, ts_col: str | None = None) -> tuple[str, int]:
    """:func:`content_fingerprint` and the row count. The aggregate is
    observed on one scan (per-task partials merged on the driver), so it
    runs one job, where an ``agg().collect()`` runs two."""
    obs = Observation("fingerprint")
    df.observe(obs, *_fingerprint_aggs(key_col, ts_col)).write.format("noop").mode(
        "overwrite"
    ).save()
    got = obs.get
    return _fingerprint_str(got, ts_col), got["n"]


def content_fingerprint(df: DataFrame, key_col: str, ts_col: str | None = None) -> str:
    """Order-insensitive content fingerprint of a batch.

    The reference fingerprints (rowcount, min_ts, max_ts, md5 of sorted
    keys) driver-side in Pandas (scripts/esplosione_dati.py:50-103).
    Same signal here, but distributed: SUM(xxhash64(key)) is commutative
    and associative, so it is stable under any partitioning, and only
    four scalars reach the driver.
    """
    return _fingerprint(df, key_col, ts_col)[0]


def _fingerprints(
    spark: SparkSession, landing_dir: str, names: list[str], key_col: str, ts_col: str
) -> dict[str, str]:
    """:func:`content_fingerprint` of each named landing file, in one
    grouped aggregate over their union. Only the key and ts columns are
    scanned, read with their types in the first file (one footer read in
    all; a file whose types differ fails the scan)."""
    first = spark.read.parquet(os.path.join(landing_dir, names[0])).schema
    cols = StructType([first[key_col], first[ts_col]])
    tagged = reduce(
        DataFrame.unionByName,
        (
            spark.read.schema(cols).parquet(os.path.join(landing_dir, n)).withColumn("__file", F.lit(n))
            for n in names
        ),
    )
    rows = tagged.groupBy("__file").agg(*_fingerprint_aggs(key_col, ts_col)).collect()
    got = {r["__file"]: _fingerprint_str(r, ts_col) for r in rows}
    empty = _fingerprint_str({"n": 0, "keyhash": None, "min_ts": None, "max_ts": None}, ts_col)
    return {n: got.get(n, empty) for n in names}


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
    Their manifest entries are dropped and the manifest saved before any
    file is overwritten, and the new fingerprints are recorded after the
    writes, so an entry never describes a file it was not computed from
    (a crash in between leaves the month to be fingerprinted from its
    file). Returns {period: rows_written}.
    """
    manifest_path = os.path.join(landing_dir, "_manifest.json")
    manifest = load_manifest(manifest_path)
    tagged = split_monthly(df, ts_col).cache()
    try:
        # One distributed pass for all per-month fingerprints.
        stats = (
            tagged.groupBy("order_month")
            .agg(*_fingerprint_aggs(key_col, ts_col))
            .collect()
        )
        changed = []
        for row in stats:
            fname = f"orders_{row['order_month']}.parquet"
            fp = _fingerprint_str(row, ts_col)
            if fingerprint_changed(manifest, fname, fp):
                changed.append((row, fname, fp))
        if changed:
            os.makedirs(landing_dir, exist_ok=True)
            for _, fname, _ in changed:
                manifest["files"].pop(fname, None)
            save_manifest(manifest_path, manifest)
        written: dict[str, int] = {}
        for row, fname, fp in changed:
            period = row["order_month"]
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


def _dq_aggs(key_cols: list[str], non_negative: list[str]) -> list:
    aggs = [F.count("*").alias("rows_in")]
    for c in key_cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"null_{c}"))
    for c in non_negative:
        aggs.append(F.sum(F.when(F.col(c) < 0, 1).otherwise(0)).cast("long").alias(f"neg_{c}"))
    return aggs


def _dq_raise(row: dict) -> dict:
    if not row["rows_in"]:
        raise ValueError("DQ: empty batch")
    violations = {k: v for k, v in row.items() if k != "rows_in" and v}
    if violations:
        raise ValueError(f"DQ violations: {violations}")
    return row


def dq_check(df: DataFrame, key_cols: list[str], non_negative: list[str]) -> dict[str, int]:
    """The incremental DQ gate (scripts/bronze_incremental.py:68-106):
    non-empty batch, no null keys, no negative measures. One aggregate
    pass; raises on violation (fail-fast, I5)."""
    return _dq_raise(df.agg(*_dq_aggs(key_cols, non_negative)).collect()[0].asDict())


def _keys_of(spark: SparkSession, table_dir: str, like: DataFrame, keys: list[str]) -> DataFrame:
    """The key columns of a bronze table, read with their types in
    ``like`` (the batch appended to it) instead of a footer read."""
    return spark.read.schema(StructType([like.schema[k] for k in keys])).parquet(table_dir)


def stage_new_orders(
    spark: SparkSession, bronze_orders_dir: str, batch: DataFrame, spec: IncrementalSpec
) -> tuple[DataFrame, dict[str, int]]:
    """Stage the batch's orders that bronze lacks (I2/J5, NOT EXISTS
    staging, scripts/bronze_incremental.py:274-289) and run the DQ gate
    on the batch. Returns the staged orders (they scope the items
    append) and {rows_in, orders}; raises before anything is appended.

    Staging is the reference's TEMP TABLE (S10): appending to bronze
    refreshes any plan that scans it, so the anti-join is materialized
    with its lineage cut before the orders are appended — a cache() is
    NOT enough (the path refresh invalidates it too). The DQ counts and
    the staged count are observed during that one checkpoint."""
    dq, new = Observation("dq"), Observation("new_orders")
    fresh = batch.observe(dq, *_dq_aggs([spec.order_key], []))
    if os.path.exists(bronze_orders_dir):
        existing = _keys_of(spark, bronze_orders_dir, batch, [spec.order_key])
        fresh = anti_join(fresh, existing, [spec.order_key])
    fresh = fresh.observe(new, F.count("*").alias("orders")).localCheckpoint(eager=True)
    stats = _dq_raise({k: v or 0 for k, v in dq.get.items()})
    return fresh, {"rows_in": stats["rows_in"], "orders": new.get["orders"]}


def append_new_items(
    spark: SparkSession,
    bronze_items_dir: str,
    incoming_items: DataFrame,
    new_orders: DataFrame,
    spec: IncrementalSpec,
) -> int:
    """Items scoped to the staged new orders (J6 semi-join,
    scripts/bronze_incremental.py:304-307), anti-dupped on the
    composite (order, line) key (:308-313), then appended; the count is
    observed on the append itself. The append reads bronze items once,
    at planning, so it needs no staging."""
    scope_keys = new_orders.select(F.col(spec.order_key).alias(spec.item_order_key))
    scoped = semi_join(incoming_items, scope_keys, [spec.item_order_key], broadcast_right=True)
    if os.path.exists(bronze_items_dir):
        keys = [spec.item_order_key, spec.item_line_key]
        scoped = anti_join(scoped, _keys_of(spark, bronze_items_dir, incoming_items, keys), keys)
    obs = Observation("new_items")
    scoped.observe(obs, F.count("*").alias("items")).write.mode("append").parquet(
        bronze_items_dir
    )
    return obs.get["items"]


def _ledger_row(
    file_name: str, fingerprint: str, rows_in: int, rows_inserted: int, status: str, note: str
) -> tuple:
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    return (file_name, fingerprint, now, rows_in, rows_inserted, status, note)


def replace_dimension(
    spark: SparkSession,
    bronze_dir: str,
    incoming: DataFrame,
    key_col: str,
    ledger: ControlTable,
    file_name: str,
) -> bool:
    """Dimension full-refresh-on-change (I3,
    scripts/bronze_incremental.py:199-219). Returns True if replaced.
    The row count logged is the fingerprint's own."""
    fp, rows = _fingerprint(incoming, key_col)
    if (file_name, fp) in ledger.processed_ok():
        ledger.upsert_rows([_ledger_row(file_name, fp, 0, 0, "SKIP", "SKIP: unchanged")])
        return False
    incoming.write.mode("overwrite").parquet(bronze_dir)
    ledger.upsert_rows([_ledger_row(file_name, fp, rows, rows, "OK", "replaced")])
    return True


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
    the ledger (file-level exactly-once) → stage the new orders with the
    DQ gate → append their anti-dupped items → append the orders. The
    fingerprints come from the landing manifest; files it does not
    describe are fingerprinted in one grouped aggregate. Every file's
    ledger row is upserted in one write at the end (also when a month
    raises, for the files before it). Idempotent: a second run over the
    same landing zone inserts 0 rows and logs SKIP.
    """
    ledger = ControlTable(spark, os.path.join(bronze_dir, "tech_processed_files"))
    done = ledger.processed_ok()
    orders_dir = os.path.join(bronze_dir, "orders")
    items_dir = os.path.join(bronze_dir, "order_items")

    month_files = sorted(
        f for f in os.listdir(landing_dir)
        if f.startswith("orders_") and f.endswith(".parquet")
    )
    landed = load_manifest(os.path.join(landing_dir, "_manifest.json"))["files"]
    fps = {f: landed[f]["fingerprint"] for f in month_files if f in landed}
    missing = [f for f in month_files if f not in fps]
    if missing:
        fps.update(_fingerprints(spark, landing_dir, missing, spec.order_key, spec.ts_col))

    results: dict[str, dict[str, int]] = {}
    ledger_rows: list[tuple] = []
    try:
        for fname in month_files:
            fp = fps[fname]
            if (fname, fp) in done:
                ledger_rows.append(_ledger_row(fname, fp, 0, 0, "SKIP", "SKIP: unchanged"))
                results[fname] = {"rows_in": 0, "orders_inserted": 0, "items_inserted": 0}
                continue
            batch = spark.read.parquet(os.path.join(landing_dir, fname))
            fresh, stats = stage_new_orders(spark, orders_dir, batch, spec)
            n_orders = stats["orders"]
            n_items = 0
            if n_orders:
                n_items = append_new_items(spark, items_dir, items_source, fresh, spec)
                fresh.write.mode("append").parquet(orders_dir)
            ledger_rows.append(
                _ledger_row(
                    fname, fp, stats["rows_in"], n_orders, "OK",
                    f"orders+{n_orders} items+{n_items}",
                )
            )
            results[fname] = {
                "rows_in": stats["rows_in"],
                "orders_inserted": n_orders,
                "items_inserted": n_items,
            }
    finally:
        ledger.upsert_rows(ledger_rows)
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
