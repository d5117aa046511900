"""Processing-ledger control table — ``tech.tech_processed_files``
(scripts/bronze_incremental.py:111-155; S8 keyed upsert, S9 in-place
update in SURVEY.md §2.1).

Vanilla parquet has no in-place UPDATE/MERGE, so the ledger is
read-modify-overwrite: new rows anti-join out their old versions, the
union overwrites via write-to-temp + the crash-safe directory swap of
``sources/swap.py`` (``read()`` recovers an interrupted swap). The table
is tiny by construction (one row per ingested file), so the full
rewrite is O(files) — the pattern would be Delta ``MERGE`` on a real
deployment, with identical semantics.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from data_engineering_project_spark.sources.swap import recover_swap, swap_in

LEDGER_SCHEMA = StructType(
    [
        StructField("file_name", StringType(), False),
        StructField("fingerprint", StringType(), True),
        StructField("processed_at", TimestampType(), True),
        StructField("rows_in", LongType(), True),
        StructField("rows_inserted", LongType(), True),
        StructField("status", StringType(), True),  # OK / SKIP / FAIL
        StructField("note", StringType(), True),
    ]
)


class ControlTable:
    """Keyed-upsert ledger over a parquet directory."""

    def __init__(self, spark: SparkSession, path: str, key: str = "file_name"):
        self.spark = spark
        self.path = path
        self.key = key

    def read(self) -> DataFrame:
        recover_swap(self.path)
        if os.path.exists(self.path):
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
        return self.spark.createDataFrame([], LEDGER_SCHEMA)

    def _overwrite(self, df: DataFrame) -> None:
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        swap_in(tmp, self.path)

    def upsert(self, records: DataFrame) -> None:
        """INSERT ... ON CONFLICT (file_name) DO UPDATE equivalent
        (scripts/bronze_incremental.py:144-155): incoming rows win."""
        current = self.read()
        keep = current.join(records.select(self.key), self.key, "left_anti")
        self._overwrite(keep.unionByName(records))

    def update_where(self, condition, assignments: dict) -> None:
        """In-place UPDATE equivalent (scripts/normalize_tech_log.py:4-11):
        read → conditional withColumn → overwrite."""
        df = self.read()
        for col_name, value in assignments.items():
            df = df.withColumn(
                col_name, F.when(condition, value).otherwise(F.col(col_name))
            )
        self._overwrite(df)

    def processed_ok(self) -> set[tuple[str, str]]:
        """(file_name, fingerprint) pairs already OK/SKIP — the skip gate
        (scripts/bronze_incremental.py:125-133)."""
        rows = (
            self.read()
            .filter(F.col("status").isin("OK", "SKIP"))
            .select("file_name", "fingerprint")
            .collect()
        )
        return {(r.file_name, r.fingerprint) for r in rows}
