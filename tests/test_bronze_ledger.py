"""The bronze ledger committed once per run: equivalence with the
per-file upsert composition it replaces, crash-replay repair, and the
job budgets of the control plane."""

from __future__ import annotations

import itertools
import json
import os
import shutil
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from data_engineering_project_spark.localframe import local_rows
from data_engineering_project_spark.operators.joins import anti_join, semi_join
from data_engineering_project_spark.plans import incremental
from data_engineering_project_spark.plans.incremental import (
    IncrementalSpec,
    content_fingerprint,
    dq_check,
    land_monthly,
    replace_dimension,
    run_incremental,
)
from data_engineering_project_spark.sources.control_table import (
    LEDGER_DDL,
    LEDGER_SCHEMA,
    ControlTable,
)
from data_engineering_project_spark.sources.swap import swap_in

SPEC = IncrementalSpec(
    order_key="o_orderkey",
    item_order_key="l_orderkey",
    item_line_key="l_linenumber",
    ts_col="o_orderdate",
)
LEDGER = "tech_processed_files"
_group_ids = itertools.count()


@pytest.fixture()
def orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


@pytest.fixture()
def lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


def _month(col="o_orderdate"):
    return F.date_format(col, "yyyy-MM")


def _first_months(orders, n):
    rows = orders.select(_month().alias("m")).distinct().orderBy("m").limit(n).collect()
    return [r.m for r in rows]


def _jobs_of(spark, action):
    sc = spark.sparkContext
    group = f"bronze-ledger-test-{next(_group_ids)}"
    sc.setJobGroup(group, "bronze ledger test")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# --- the per-file composition the single ledger write replaces ---------


def _reference_fingerprint(df, key_col, ts_col=None):
    aggs = [
        F.count("*").alias("n"),
        F.sum(F.xxhash64(F.col(key_col).cast("string")).cast("decimal(38,0)")).alias("keyhash"),
    ]
    if ts_col:
        aggs += [F.min(ts_col).alias("min_ts"), F.max(ts_col).alias("max_ts")]
    row = df.agg(*aggs).collect()[0]
    parts = [str(row["n"]), str(row["keyhash"])]
    if ts_col:
        parts += [str(row["min_ts"]), str(row["max_ts"])]
    return "|".join(parts)


def _reference_log(spark, path, file_name, fp, rows_in, inserted, status, note):
    """One-row createDataFrame, anti-joined against the re-read ledger,
    union, rewrite."""
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    record = spark.createDataFrame(
        [(file_name, fp, now, rows_in, inserted, status, note)], LEDGER_SCHEMA
    )
    if os.path.exists(path):
        current = spark.read.schema(LEDGER_SCHEMA).parquet(path)
    else:
        current = spark.createDataFrame([], LEDGER_SCHEMA)
    keep = current.join(record.select("file_name"), "file_name", "left_anti")
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    keep.unionByName(record).coalesce(1).write.mode("overwrite").parquet(tmp)
    swap_in(tmp, path)


def _reference_run(spark, landing, bronze, spec, items_source):
    """Per file: fingerprint the file, DQ aggregate, stage + append the
    orders, then the items, then upsert that file's ledger row."""
    path = os.path.join(bronze, LEDGER)
    done = set()
    if os.path.exists(path):
        done = {
            (r.file_name, r.fingerprint)
            for r in spark.read.schema(LEDGER_SCHEMA).parquet(path)
            .filter(F.col("status").isin("OK", "SKIP")).collect()
        }
    orders_dir = os.path.join(bronze, "orders")
    items_dir = os.path.join(bronze, "order_items")
    for fname in sorted(f for f in os.listdir(landing) if f.startswith("orders_")):
        batch = spark.read.parquet(os.path.join(landing, fname))
        fp = _reference_fingerprint(batch, spec.order_key, spec.ts_col)
        if (fname, fp) in done:
            _reference_log(spark, path, fname, fp, 0, 0, "SKIP", "SKIP: unchanged")
            continue
        stats = dq_check(batch, [spec.order_key], [])
        fresh = batch
        if os.path.exists(orders_dir):
            fresh = anti_join(batch, spark.read.parquet(orders_dir), [spec.order_key])
        fresh = fresh.localCheckpoint(eager=True)
        n_orders = fresh.count()
        if n_orders:
            fresh.write.mode("append").parquet(orders_dir)
        scope = fresh.select(F.col(spec.order_key).alias(spec.item_order_key))
        scoped = semi_join(items_source, scope, [spec.item_order_key], broadcast_right=True)
        keys = [spec.item_order_key, spec.item_line_key]
        if os.path.exists(items_dir):
            scoped = anti_join(scoped, spark.read.parquet(items_dir), keys)
        scoped = scoped.localCheckpoint(eager=True)
        n_items = scoped.count()
        if n_items:
            scoped.write.mode("append").parquet(items_dir)
        _reference_log(
            spark, path, fname, fp, stats["rows_in"], n_orders, "OK",
            f"orders+{n_orders} items+{n_items}",
        )


def _ledger_rows(spark, bronze):
    """Every ledger column but processed_at, sorted."""
    df = spark.read.schema(LEDGER_SCHEMA).parquet(os.path.join(bronze, LEDGER))
    return sorted(tuple(r) for r in df.drop("processed_at").collect())


def _bronze_rows(spark, bronze):
    """Bronze orders and items, columns by name (the joins that stage an
    append put their keys first, so part files differ in column order)."""
    out = {}
    for t in ("orders", "order_items"):
        df = spark.read.parquet(os.path.join(bronze, t))
        out[t] = sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())
    return out


def _nights(orders, landing):
    """Night 1 lands two months with one order of the second held back;
    night 2 re-delivers the second month whole and adds a third."""
    months = _first_months(orders, 3)
    held = (
        orders.filter(_month() == months[1]).orderBy("o_orderkey").limit(1).collect()[0].o_orderkey
    )
    first = orders.filter(_month().isin(months[:2]) & (F.col("o_orderkey") != held))
    second = orders.filter(_month().isin(months))

    def night1():
        land_monthly(first, "o_orderdate", "o_orderkey", landing)

    def night2():
        land_monthly(second, "o_orderdate", "o_orderkey", landing)

    return night1, night2


def test_ledger_equals_per_file_composition(spark, orders, lineitem, tmp_path):
    """After each night and after a replay, the single-write ledger
    holds the rows the per-file composition writes, and bronze matches."""
    landing = str(tmp_path / "landing")
    lake, ref = str(tmp_path / "bronze"), str(tmp_path / "bronze_ref")
    night1, night2 = _nights(orders, landing)
    for land in (night1, night2, None):
        if land:
            land()
        got = run_incremental(spark, landing, lake, SPEC, lineitem)
        _reference_run(spark, landing, ref, SPEC, lineitem)
        assert _ledger_rows(spark, lake) == _ledger_rows(spark, ref)
        assert _bronze_rows(spark, lake) == _bronze_rows(spark, ref)
    assert len(got) == 3
    assert all(r == {"rows_in": 0, "orders_inserted": 0, "items_inserted": 0} for r in got.values())


def test_manifest_fingerprint_equals_file_fingerprint(spark, orders, lineitem, tmp_path):
    """The manifest's fingerprint of every landed month is the content
    fingerprint of the file read back, so a ledger row written from the
    latter still SKIPs when the bronze step trusts the manifest."""
    landing, bronze = str(tmp_path / "landing"), str(tmp_path / "bronze")
    land_monthly(orders.filter(_month().isin(_first_months(orders, 3))),
                 "o_orderdate", "o_orderkey", landing)
    with open(os.path.join(landing, "_manifest.json"), encoding="utf-8") as fh:
        entries = json.load(fh)["files"]
    assert len(entries) == 3
    records = []
    for fname, entry in sorted(entries.items()):
        batch = spark.read.parquet(os.path.join(landing, fname))
        fp = content_fingerprint(batch, "o_orderkey", "o_orderdate")
        assert entry["fingerprint"] == fp == _reference_fingerprint(batch, "o_orderkey", "o_orderdate")
        records.append((fname, fp, datetime(2017, 1, 1), entry["rows"], entry["rows"], "OK", "backfill"))
    ControlTable(spark, os.path.join(bronze, LEDGER)).upsert(
        spark.createDataFrame(records, LEDGER_SCHEMA)
    )
    got = run_incremental(spark, landing, bronze, SPEC, lineitem)
    assert all(r["rows_in"] == 0 and r["orders_inserted"] == 0 for r in got.values())
    assert not os.path.exists(os.path.join(bronze, "orders"))


def test_landing_crash_after_overwrite_is_reingested(spark, orders, lineitem, tmp_path, monkeypatch):
    """A crash after a month file is overwritten and before the manifest
    records its new fingerprint: the bronze step fingerprints the file
    and ingests the new content instead of SKIPping it."""
    landing, bronze = str(tmp_path / "landing"), str(tmp_path / "bronze")
    night1, night2 = _nights(orders, landing)
    night1()
    run_incremental(spark, landing, bronze, SPEC, lineitem)
    n_before = spark.read.parquet(os.path.join(bronze, "orders")).count()

    real_save = incremental.save_manifest
    saves = []

    def crash_on_second_save(path, manifest):
        saves.append(path)
        if len(saves) == 2:
            raise OSError("injected crash")
        real_save(path, manifest)

    monkeypatch.setattr(incremental, "save_manifest", crash_on_second_save)
    with pytest.raises(OSError, match="injected"):
        night2()
    monkeypatch.setattr(incremental, "save_manifest", real_save)

    got = run_incremental(spark, landing, bronze, SPEC, lineitem)
    months = sorted(got)
    assert got[months[1]]["orders_inserted"] == 1  # the held-back order
    assert got[months[2]]["orders_inserted"] > 0
    total = sum(r["orders_inserted"] for r in got.values())
    assert spark.read.parquet(os.path.join(bronze, "orders")).count() == n_before + total


def _crash_between_appends(monkeypatch):
    """Fail the second bronze append: the first changed month's second
    table, whichever order the two tables are appended in."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet
    appends = []

    def parquet(self, path, *args, **kwargs):
        if os.path.basename(path) in ("orders", "order_items"):
            appends.append(path)
            if len(appends) == 2:
                raise OSError("injected crash")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


def _crash_before_ledger_write(monkeypatch):
    def crash(self, records):
        raise OSError("injected crash")

    monkeypatch.setattr(ControlTable, "upsert_rows", crash)


@pytest.mark.parametrize("inject", [_crash_between_appends, _crash_before_ledger_write])
def test_replay_after_crash_equals_clean_run(spark, orders, lineitem, tmp_path, monkeypatch, inject):
    """A crash between the items and orders appends, or between the
    appends and the ledger write: the replay leaves bronze equal to a
    clean run, and a second replay inserts nothing."""
    landing = str(tmp_path / "landing")
    lake, clean = str(tmp_path / "bronze"), str(tmp_path / "bronze_clean")
    night1, night2 = _nights(orders, landing)
    night1()
    for bronze in (lake, clean):
        run_incremental(spark, landing, bronze, SPEC, lineitem)
    night2()
    run_incremental(spark, landing, clean, SPEC, lineitem)

    with monkeypatch.context() as m:
        inject(m)
        with pytest.raises(OSError, match="injected"):
            run_incremental(spark, landing, lake, SPEC, lineitem)
    run_incremental(spark, landing, lake, SPEC, lineitem)
    assert _bronze_rows(spark, lake) == _bronze_rows(spark, clean)

    again = run_incremental(spark, landing, lake, SPEC, lineitem)
    assert all(r["orders_inserted"] == 0 and r["items_inserted"] == 0 for r in again.values())
    assert _bronze_rows(spark, lake) == _bronze_rows(spark, clean)


def test_replay_of_skipped_months_runs_at_most_3_jobs(spark, orders, lineitem, tmp_path):
    """Fingerprints come from the manifest: a replay in which every month
    SKIPs reads the ledger once and writes it once."""
    landing, bronze = str(tmp_path / "landing"), str(tmp_path / "bronze")
    land_monthly(orders.filter(_month().isin(_first_months(orders, 3))),
                 "o_orderdate", "o_orderkey", landing)
    run_incremental(spark, landing, bronze, SPEC, lineitem)
    out = {}
    jobs = _jobs_of(spark, lambda: out.update(run_incremental(spark, landing, bronze, SPEC, lineitem)))
    assert len(out) == 3 and all(r["rows_in"] == 0 for r in out.values())
    assert jobs <= 3


def test_replay_without_manifest_fingerprints_in_one_aggregate(spark, orders, lineitem, tmp_path):
    """A landing directory without a manifest is fingerprinted from its
    files: one footer read and one grouped aggregate for all of them."""
    landing, bronze = str(tmp_path / "landing"), str(tmp_path / "bronze")
    land_monthly(orders.filter(_month().isin(_first_months(orders, 3))),
                 "o_orderdate", "o_orderkey", landing)
    run_incremental(spark, landing, bronze, SPEC, lineitem)
    os.remove(os.path.join(landing, "_manifest.json"))
    out = {}
    jobs = _jobs_of(spark, lambda: out.update(run_incremental(spark, landing, bronze, SPEC, lineitem)))
    assert len(out) == 3 and all(r["rows_in"] == 0 for r in out.values())
    assert jobs <= 5  # ledger read, footer read, 2-job aggregate, ledger write


def test_night_over_changed_months_runs_a_bounded_number_of_jobs(spark, orders, lineitem, tmp_path):
    """A night over N changed months: ledger read and write once, and per
    month a file read, the staging checkpoint with its anti-join, the
    items append with its joins, and the orders append: 7 jobs a month
    in the 4-partition test session, bounded at 8."""
    landing, bronze = str(tmp_path / "landing"), str(tmp_path / "bronze")
    night1, night2 = _nights(orders, landing)
    night1()
    run_incremental(spark, landing, bronze, SPEC, lineitem)
    night2()
    out = {}
    jobs = _jobs_of(spark, lambda: out.update(run_incremental(spark, landing, bronze, SPEC, lineitem)))
    changed = sum(1 for r in out.values() if r["rows_in"])
    assert changed == 2
    assert jobs <= 2 + 8 * changed


def test_unchanged_dimension_runs_at_most_3_jobs(spark, sf_dir, tmp_path):
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    bronze_dim = str(tmp_path / "bronze" / "customers")
    path = str(tmp_path / "bronze" / LEDGER)
    assert replace_dimension(spark, bronze_dim, cust, "c_custkey", ControlTable(spark, path), "c.csv")
    ledger = ControlTable(spark, path)
    replaced = []
    jobs = _jobs_of(spark, lambda: replaced.append(
        replace_dimension(spark, bronze_dim, cust, "c_custkey", ledger, "c.csv")))
    assert replaced == [False]
    assert jobs <= 3
    rows = ControlTable(spark, path).rows()
    n = cust.count()
    assert [r[3:] for r in rows.values()] == [(0, 0, "SKIP", "SKIP: unchanged")]
    assert replace_dimension(spark, bronze_dim, cust.limit(n - 1), "c_custkey", ledger, "c.csv")
    assert ControlTable(spark, path).rows()["c.csv"][3:5] == (n - 1, n - 1)


def test_ledger_sees_writes_by_another_handle(spark, tmp_path):
    path = str(tmp_path / LEDGER)
    t0 = datetime(2024, 1, 1)
    a, b = ControlTable(spark, path), ControlTable(spark, path)
    a.upsert_rows([("f1", "fp1", t0, 1, 1, "OK", "first")])
    assert a.processed_ok() == {("f1", "fp1")}
    b.upsert_rows([("f1", "fp2", t0, 1, 0, "SKIP", "SKIP: unchanged"), ("f2", "x", t0, 2, 2, "OK", "n")])
    assert a.processed_ok() == {("f1", "fp2"), ("f2", "x")}
    a.upsert_rows([])
    assert len(b.rows()) == 2


def test_local_rows_timestamps_equal_create_dataframe(spark):
    rows = [
        ("a", datetime(2017, 1, 2, 3, 4, 5, 123456), 1),
        ("b", datetime(2024, 2, 29, 23, 59, 59, 999999), None),
        ("c", datetime(1969, 12, 31, 23, 59, 59, 1), 3),
        ("d", datetime(2020, 6, 1, 12, tzinfo=timezone(timedelta(hours=-3))), 4),
        ("e", None, 5),
    ]
    ddl = "k string, ts timestamp, n bigint"
    got = local_rows(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert got.collect() == want.collect()
    assert got.select(F.col("ts").cast("string")).collect() == want.select(
        F.col("ts").cast("string")).collect()
    empty = local_rows(spark, [], LEDGER_DDL)
    assert empty.collect() == [] and empty.columns == LEDGER_SCHEMA.fieldNames()


def test_ledger_upsert_takes_python_built_frames(spark, tmp_path):
    """``upsert(df)`` keeps taking a createDataFrame frame, merged by key
    with the incoming row winning."""
    path = str(tmp_path / LEDGER)
    ledger = ControlTable(spark, path)
    t0 = datetime(2017, 1, 1)
    ledger.upsert(spark.createDataFrame(
        [("f1", "a", t0, 1, 1, "OK", "x"), ("f2", "b", t0, 2, 2, "OK", "y")], LEDGER_SCHEMA))
    ledger.upsert(spark.createDataFrame([("f2", "c", t0, 0, 0, "SKIP", "z")], LEDGER_SCHEMA))
    got = sorted(tuple(r) for r in ControlTable(spark, path).read().collect())
    assert got == [("f1", "a", t0, 1, 1, "OK", "x"), ("f2", "c", t0, 0, 0, "SKIP", "z")]
    shutil.rmtree(path)
    assert ControlTable(spark, path).rows() == {}
