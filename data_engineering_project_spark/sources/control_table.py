"""Processing-ledger control table — ``tech.tech_processed_files``
(scripts/bronze_incremental.py:111-155; S8 keyed upsert, S9 in-place
update in SURVEY.md §2.1).

Vanilla parquet has no in-place UPDATE/MERGE, so the ledger is
read-modify-overwrite, merged in the driver: the rows are collected
once, incoming rows replace their old versions by key, and the merged
rows overwrite the table from one JVM-local frame
(``localframe.local_rows``) via write-to-temp + the crash-safe
directory swap of ``sources/swap.py`` (``read()`` recovers an
interrupted swap). The table is tiny by construction (one row per
ingested file), so a merge is one collect and one write whatever the
batch — the pattern would be Delta ``MERGE`` on a real deployment,
with identical semantics.

A ``ControlTable`` remembers the rows it last read or wrote together
with the stamp (name, size, mtime) of every file in the table
directory. Every write swaps in a directory of uniquely named part
files, so a write by anyone moves the stamp, and a gate read followed
by an upsert costs one collect, not two.
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

from data_engineering_project_spark.localframe import local_rows
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
LEDGER_DDL = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in LEDGER_SCHEMA)
_FIELDS = LEDGER_SCHEMA.fieldNames()


def _stamp(path: str) -> frozenset | None:
    """(name, size, mtime_ns) of every file in the table directory, or
    None when there is no table."""
    try:
        with os.scandir(path) as entries:
            return frozenset(
                (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in entries
            )
    except FileNotFoundError:
        return None


class ControlTable:
    """Keyed-upsert ledger over a parquet directory."""

    def __init__(self, spark: SparkSession, path: str, key: str = "file_name"):
        self.spark = spark
        self.path = path
        self.key = key
        self._key_at = _FIELDS.index(key)
        self._snapshot: tuple[frozenset, dict[str, tuple]] | None = None

    def read(self) -> DataFrame:
        recover_swap(self.path)
        if os.path.exists(self.path):
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
        return local_rows(self.spark, [], LEDGER_DDL)

    def rows(self) -> dict[str, tuple]:
        """The ledger rows (tuples in ``LEDGER_SCHEMA`` order) by key:
        one collect, none while the table is as last read or written."""
        recover_swap(self.path)
        stamp = _stamp(self.path)
        if stamp is None:
            return {}
        if self._snapshot is None or self._snapshot[0] != stamp:
            rows = self.read().collect()
            self._snapshot = (stamp, {r[self._key_at]: tuple(r) for r in rows})
        return dict(self._snapshot[1])

    def _overwrite(self, df: DataFrame) -> None:
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        swap_in(tmp, self.path)

    def upsert_rows(self, records: list[tuple]) -> None:
        """INSERT ... ON CONFLICT (file_name) DO UPDATE equivalent
        (scripts/bronze_incremental.py:144-155): the current rows are
        merged with ``records`` (tuples in ``LEDGER_SCHEMA`` order) by
        key in the driver, incoming rows winning, and written in one
        swap."""
        if not records:
            return
        merged = self.rows()
        merged.update((r[self._key_at], tuple(r)) for r in records)
        self._overwrite(local_rows(self.spark, list(merged.values()), LEDGER_DDL))
        self._snapshot = (_stamp(self.path), merged)

    def upsert(self, records: DataFrame) -> None:
        """:meth:`upsert_rows` for records held in a DataFrame."""
        self.upsert_rows([tuple(r) for r in records.select(*_FIELDS).collect()])

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
        name, fp, status = (_FIELDS.index(c) for c in ("file_name", "fingerprint", "status"))
        return {(r[name], r[fp]) for r in self.rows().values() if r[status] in ("OK", "SKIP")}
