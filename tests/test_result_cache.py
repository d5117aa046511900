"""Snapshot-keyed result cache of the seven dashboard queries
(plans/result_cache.py): a hit equals the uncached answer and runs no
Spark job; a gold rewrite is never served stale; frames that are not
bare local file scans bypass; concurrent clients agree; a new session
never receives another session's frames."""

from __future__ import annotations

import itertools
import os
import subprocess
import sys
import textwrap
import threading

import pytest
from pyspark.sql import functions as F

from data_engineering_project_spark.plans import analytics, result_cache
from data_engineering_project_spark.plans.medallion import gold

QUERIES = (
    "kpis",
    "top_categories",
    "orders_by_state",
    "delivery_days_by_state",
    "freight_by_state",
    "monthly_trend",
    "weekday_seasonality",
)
TABLES = ("fact_sales", "dim_customers", "dim_products")
_group_ids = itertools.count()


def _write_gold(g, root):
    for name in TABLES:
        g[name].write.mode("overwrite").parquet(os.path.join(root, name))


def _read_gold(spark, root):
    return {name: spark.read.parquet(os.path.join(root, name)) for name in TABLES}


def _query(name, g, states, uncached=False):
    fn = getattr(analytics, name)
    if uncached:
        fn = fn.__wrapped__
    if name == "top_categories":
        return fn(g["fact_sales"], g["dim_products"], g["dim_customers"], states)
    return fn(g["fact_sales"], g["dim_customers"], states)


def _with_jobs(spark, action):
    """(result of ``action()``, Spark jobs it ran), counted under a job
    group of its own."""
    sc = spark.sparkContext
    group = f"result-cache-test-{next(_group_ids)}"
    sc.setJobGroup(group, "result cache test")
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _delta(before):
    after = result_cache.stats()
    return {k: after[k] - before[k] for k in ("hits", "misses", "bypasses")}


@pytest.fixture(scope="module")
def gold_dir(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("gold"))
    _write_gold(gold(spark, sf_dir), root)
    return root


@pytest.fixture(scope="module")
def filters(spark, gold_dir):
    dc = _read_gold(spark, gold_dir)["dim_customers"]
    states = [
        r.customer_state
        for r in dc.groupBy("customer_state").count()
        .orderBy(F.desc("count"), "customer_state").limit(3).collect()
    ]
    return [None, states[:1], states, ["NO SUCH STATE"]]


def test_hit_equals_uncached_answer_and_runs_no_job(spark, gold_dir, filters):
    g = _read_gold(spark, gold_dir)
    for name in QUERIES:
        for states in filters:
            ref = _query(name, g, states, uncached=True)
            want, ref_jobs = _with_jobs(spark, ref.collect)
            assert ref_jobs > 0  # the counter sees the uncached query's jobs
            first = _query(name, g, states)
            assert first.collect() == want and first.dtypes == ref.dtypes
            before = result_cache.stats()
            second, jobs = _with_jobs(spark, lambda: _query(name, g, states))
            assert second.collect() == want and second.dtypes == ref.dtypes
            _, jobs_collect = _with_jobs(spark, second.collect)
            assert jobs == 0 and jobs_collect == 0, (name, states)
            assert _delta(before) == {"hits": 1, "misses": 0, "bypasses": 0}


def test_state_filter_is_normalized(spark, gold_dir, filters):
    g = _read_gold(spark, gold_dir)
    states = filters[2]
    first = _query("orders_by_state", g, states)
    before = result_cache.stats()
    again = _query("orders_by_state", g, list(reversed(states)) + states[:1])
    assert again is first
    assert _delta(before)["hits"] == 1


def test_frames_persisted_before_first_use_stay_eligible(spark, gold_dir):
    """The dashboard persists its frames before the first query; a
    persisted scan plans as an in-memory relation but is still the same
    file snapshot, so it is cached like the bare scan."""
    g = {n: df.persist() for n, df in _read_gold(spark, gold_dir).items()}
    try:
        first = _query("monthly_trend", g, None)
        before = result_cache.stats()
        assert _query("monthly_trend", g, None) is first
        assert _delta(before) == {"hits": 1, "misses": 0, "bypasses": 0}
    finally:
        for df in g.values():
            df.unpersist()


def test_gold_rewrite_serves_new_answers(spark, sf_dir, tmp_path):
    root = str(tmp_path / "gold")
    full = gold(spark, sf_dir)
    _write_gold(full, root)
    old = _read_gold(spark, root)
    old_rows = _query("kpis", old, None).collect()
    assert _query("kpis", old, None).collect() == old_rows  # a hit

    # rebuild gold with every other order dropped
    half = dict(full, fact_sales=full["fact_sales"].filter(F.hash("order_id") % 2 == 0))
    _write_gold(half, root)

    before = result_cache.stats()
    _query("kpis", old, None)  # the old frame's files are gone: bypass, evict
    assert _delta(before) == {"hits": 0, "misses": 0, "bypasses": 1}

    new = _read_gold(spark, root)
    want = _query("kpis", new, None, uncached=True).collect()
    before = result_cache.stats()
    got = _query("kpis", new, None).collect()
    assert got == want and got != old_rows
    assert _delta(before)["misses"] == 1
    assert _query("kpis", new, None).collect() == want
    assert _delta(before) == {"hits": 1, "misses": 1, "bypasses": 0}


def test_derived_and_in_memory_frames_bypass(spark, sf_dir, gold_dir):
    derived = gold(spark, sf_dir)
    scans = _read_gold(spark, gold_dir)
    filtered = dict(scans, fact_sales=scans["fact_sales"].filter(F.col("price") > 0))
    in_memory = dict(
        scans,
        dim_customers=spark.createDataFrame(scans["dim_customers"].limit(50).collect(),
                                            scans["dim_customers"].schema),
    )
    for g in (derived, filtered, in_memory):
        before = result_cache.stats()
        df = _query("top_categories", g, None)
        assert _delta(before) == {"hits": 0, "misses": 0, "bypasses": 1}
        # the lazy join plan, not a stored answer
        assert "Join" in df._jdf.queryExecution().optimizedPlan().toString()


def test_concurrent_clients_get_equal_rows(spark, sf_dir, filters, tmp_path):
    # a fresh snapshot, so the clients race on misses as well as hits
    _write_gold(gold(spark, sf_dir), str(tmp_path))
    g = _read_gold(spark, str(tmp_path))
    want = {(q, i): _query(q, g, s, uncached=True).collect()
            for q in QUERIES for i, s in enumerate(filters[:3])}
    got: list = []
    errors: list = []
    lock = threading.Lock()

    def client(cid):
        try:
            for rep in range(3):
                for q in QUERIES:
                    i = (cid + rep) % 3
                    rows = _query(q, g, filters[i]).collect()
                    with lock:
                        got.append(((q, i), rows))
        except Exception as exc:  # noqa: BLE001 - surfaced by the assert below
            errors.append(exc)

    before = result_cache.stats()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    assert len(got) == 4 * 3 * len(QUERIES)
    assert all(rows == want[key] for key, rows in got)
    # clients missing the same key together wait for one computation
    assert _delta(before) == {"hits": len(got) - len(want), "misses": len(want), "bypasses": 0}


def test_frames_of_a_stopped_session_never_reach_a_new_one(tmp_path):
    """Runs in its own process: stopping the session would end the
    suite's shared one."""
    script = textwrap.dedent(
        """
        import sys
        from data_engineering_project_spark.plans import analytics, result_cache
        from data_engineering_project_spark.session import get_spark

        root = sys.argv[1]

        def frames(spark):
            spark.createDataFrame(
                [(1, "c1", 10.0, 1.0, 3), (2, "c2", 5.0, 2.0, 4)],
                "order_id long, customer_id string, price double,"
                " freight_value double, delivery_time_days int",
            ).write.mode("ignore").parquet(root + "/fact")
            spark.createDataFrame([("c1", "SP"), ("c2", "RJ")],
                                  "customer_id string, customer_state string",
                                  ).write.mode("ignore").parquet(root + "/dc")
            return spark.read.parquet(root + "/fact"), spark.read.parquet(root + "/dc")

        old = get_spark("result-cache-stop")
        first = analytics.kpis(*frames(old))
        rows = first.collect()
        assert analytics.kpis(*frames(old)) is first
        old.stop()

        new = get_spark("result-cache-stop")
        assert new is not old
        again = analytics.kpis(*frames(new))
        assert again is not first and again.sparkSession is new
        assert again.collect() == rows
        stats = result_cache.stats()
        assert (stats["hits"], stats["misses"]) == (1, 2), stats
        new.stop()
        print("ok")
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_SHUFFLE_PARTITIONS="2",
               SPARK_GRAFT_DRIVER_MEM="1g")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join(p for p in (repo, env.get("PYTHONPATH")) if p)
    proc = subprocess.run([sys.executable, "-c", script, str(tmp_path)], env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0 and proc.stdout.strip().endswith("ok"), proc.stderr[-3000:]
