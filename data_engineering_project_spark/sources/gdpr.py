"""Governance operations: subject erasure and masked serving views.

Beyond-reference capability: any lake holding user data needs (a) a
"right to be forgotten" erasure that cascades across tables and leaves
an audit trail, and (b) serving views that mask sensitive columns for
broad audiences. Both are engine-level rewrites, not UI features.

Scale notes: erasure is an anti-join rewrite per table — one scan +
one write, the same cost as a compaction pass, and at lake scale it
batches many subjects per rewrite (the weekly GDPR queue, not
per-request rewrites). The audit row records exact dropped counts per
table. A transactional deployment would commit the rewrite through
sources/txlog.py so readers never see a half-erased table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_engineering_project_spark.sources.swap import recover_swap, swap_in


def recover_table(path: str) -> None:
    """Recover from a crash mid-erasure: resolve an interrupted swap
    (:func:`~data_engineering_project_spark.sources.swap.recover_swap`
    — safe to drop a stale backup because erase_subjects validates the
    staging parquet before any rename) and drop an unswapped staging
    write."""
    recover_swap(path)
    staging = path.rstrip("/") + ".__erase__"
    if os.path.exists(staging):
        # an unswapped staging write is garbage from a failed run
        shutil.rmtree(staging)


def erase_subjects(
    spark: SparkSession,
    tables: dict[str, str],
    subject_ids: list[int],
    audit_dir: str | None = None,
) -> dict[str, int]:
    """Erase every row belonging to ``subject_ids``.

    ``tables`` maps parquet directory -> subject-id column name. Each
    table is rewritten via staging + swap; returns per-table dropped
    counts, and appends one audit row per table to ``audit_dir`` if
    given (table, n_dropped — never the subject values themselves:
    the audit must not re-identify the erased subject).
    """
    dropped: dict[str, int] = {}
    ids_df = spark.createDataFrame(
        [(i,) for i in subject_ids], "subject_id long"
    )
    for path, col in tables.items():
        recover_table(path)
        df = spark.read.parquet(path)
        keep = df.join(
            F.broadcast(ids_df),
            df[col] == ids_df["subject_id"],
            "left_anti",
        )
        n_before = df.count()
        staging = path.rstrip("/") + ".__erase__"
        keep.write.mode("overwrite").parquet(staging)
        # Validate the staged table READS before any rename — a torn or
        # corrupt staged write must fail HERE, while the live table is
        # still untouched. After this point every on-disk state is
        # recoverable: recover_swap()'s both-exist branch may safely
        # drop the backup because the swapped-in table was already
        # validated pre-swap.
        n_after = spark.read.parquet(staging).count()
        swap_in(staging, path)
        dropped[path] = n_before - n_after
    if audit_dir is not None:
        audit = spark.createDataFrame(
            [(p, int(n)) for p, n in dropped.items()],
            "table string, n_dropped long",
        ).withColumn("erased_at", F.current_timestamp())
        audit.write.mode("append").parquet(audit_dir)
    return dropped


def register_masked_view(
    spark: SparkSession,
    df: DataFrame,
    view_name: str,
    hash_cols: list[str] = (),
    null_cols: list[str] = (),
    redact_text_cols: list[str] = (),
) -> None:
    """Register ``view_name`` with sensitive columns masked:

    - ``hash_cols`` → sha2-256 (joinable pseudonym, not reversible)
    - ``null_cols`` → NULL (column kept for schema compatibility)
    - ``redact_text_cols`` → PII patterns replaced (operators/pii.py)

    The masking is part of the view's plan — every query through the
    serving layer inherits it; no copied/masked table to keep in sync.
    """
    from data_engineering_project_spark.operators import pii

    out = df
    for c in hash_cols:
        out = out.withColumn(c, F.sha2(F.col(c).cast("string"), 256))
    for c in null_cols:
        out = out.withColumn(c, F.lit(None).cast(df.schema[c].dataType))
    for c in redact_text_cols:
        out = out.withColumn(c, pii.redact(F.col(c)))
    out.createOrReplaceTempView(view_name)
