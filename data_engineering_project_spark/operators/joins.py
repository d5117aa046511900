"""Join operators — SURVEY.md §2.3 (J1–J6).

All reference joins are equi-joins; the two non-inner variants are the
incremental path's anti-join dedup gate (J5, scripts/
bronze_incremental.py:275-284) and semi-join scoping (J6, :304-307).

Scale notes: `left_anti`/`left_semi` against a *small* right side should
broadcast (new-batch keys are small by definition in the incremental
path); Spark only auto-broadcasts below the threshold, so the helpers
take an explicit ``broadcast_right`` hint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def anti_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    broadcast_right: bool = False,
) -> DataFrame:
    """Rows of ``left`` whose key is absent from ``right`` (J5 —
    ``NOT EXISTS``). Composite keys supported (the reference anti-dups
    items on (order_id, order_item_id))."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r.select(*keys), keys, "left_anti")


def semi_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    broadcast_right: bool = False,
) -> DataFrame:
    """Rows of ``left`` with ≥1 key match in ``right`` (J6 — scoping)."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r.select(*keys), keys, "left_semi")


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot reconciliation: (key, change_type) for every row that
    differs between two versions of a table — the verification step
    after any migration/backfill, and the change feed a downstream
    consumer applies.

    One full outer join on the key; change classification is
    null-safe column comparison (NULL == NULL is "same"), so schema
    drift in the compared columns surfaces as 'changed', not a crash.
    Emits 'added' (key only in new), 'removed' (key only in old),
    'changed' (present in both, any compared column differs);
    identical rows are dropped before anything reaches the driver.
    At scale this is the one unavoidable co-partitioned join of both
    snapshots — bucket both sides on the key to make it exchange-free.
    """
    o = old.select(
        F.col(key), F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"__old_{c}") for c in compare_cols],
    )
    n = new.select(
        F.col(key), F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"__new_{c}") for c in compare_cols],
    )
    joined = o.join(n, key, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), "added")
        .when(F.col("__in_new").isNull(), "removed")
        .when(~same, "changed")
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(key, "change_type")
    )
