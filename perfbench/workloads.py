"""The two benchmark workloads.

Each workload generates its inputs from the seed, builds the state its
operations start from, warms up, then runs timed operations: a pass for
the batch workload, a serving request for ``dashboard_serving``.
Correctness checks run after the timed region; each is one ``expect``.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from dataclasses import dataclass
from datetime import datetime

import duckdb
import numpy as np

import gen
from common import EngineCounters, Tracer, changed_files, percentile, tree_size

GOLD_TABLES = ("fact_sales", "dim_customers", "dim_products", "dim_time")


class Workload:
    """Shared plumbing: a workload owns a scratch directory, a tracer and
    the engine counters, and accumulates per-operation records."""

    name = ""
    sizes: dict = {}
    # how many times a run repeats generate + prepare; setup_s takes the median
    setup_repeats = 1

    def __init__(self, spark, work: str, seed: int, tracer: Tracer, traced: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.traced = traced
        self.counters = EngineCounters(spark.sparkContext)
        self.latencies: list[float] = []
        self.layer_sums: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.checks = 0
        self.op_spans: list = []
        self.detail: dict = {}

    def expect(self, ok: bool, failure: str) -> None:
        """One correctness check; a failed one counts as a failed operation."""
        self.checks += 1
        if not ok:
            self.failures.append(failure)

    def add(self, key: str, value: float) -> None:
        self.layer_sums[key] = self.layer_sums.get(key, 0.0) + value

    # -- lifecycle ---------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Prebuilt state the timed operations start from (part of setup)."""

    def warm_up(self) -> None:
        """Run a first shuffle job, which the first operation would
        otherwise pay for on top of its own work."""
        from pyspark.sql import functions as F

        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, 10000, numPartitions=n).groupBy(
            (F.col("id") % 7).alias("k")).count().collect()

    def measure(self, seconds: float) -> None:
        """Batch default: fill the window with whole passes. A pass starts
        only if a pass as long as the last one still ends inside the
        window; with passes longer than half the window, a run times one."""
        t_end = time.perf_counter() + seconds
        last = 0.0
        i = 0
        while i == 0 or time.perf_counter() + last <= t_end:
            self.before_pass(i)
            before = self.counters.snapshot() if self.traced else None
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.trace(f"pass-{i}"), self.tracer.span("bench.pass"):
                    self.run_pass(i)
            except Exception as exc:  # noqa: BLE001 - counted, reported
                self.failures.append(f"pass {i}: {type(exc).__name__}: {exc}")
                i += 1
                continue
            last = time.perf_counter() - t0
            self.latencies.append(last)
            if before is not None:
                for k, v in self.counters.delta(before, self.counters.snapshot()).items():
                    self.add(f"session.{k}", v)
            self.after_pass(i)
            i += 1

    def before_pass(self, i: int) -> None:
        pass

    def run_pass(self, i: int) -> None:
        raise NotImplementedError

    def after_pass(self, i: int) -> None:
        pass

    def check(self) -> None:
        raise NotImplementedError

    def ops(self) -> int:
        return len(self.latencies)

    def layer_metrics(self) -> dict[str, float]:
        """Per-operation means of the accumulated layer values."""
        n = max(self.ops(), 1)
        return {k: v / n for k, v in self.layer_sums.items()}

    def self_times(self) -> dict[str, float]:
        """Per-operation self time of each span name of the timed ops."""
        n = max(self.ops(), 1)
        return {k: v / n for k, v in Tracer.self_times(self.op_spans).items()}

    def ops_per_s(self) -> float:
        """Operations per second of timed work: one over the pass time."""
        return len(self.latencies) / sum(self.latencies)

    def workload_metrics(self) -> dict:
        """Workload-specific batch metrics, for the detail line."""
        batch = percentile(self.latencies, 50)
        out = {"batch_s": batch, "rows_per_s": self.input_rows / batch}
        if "sources.bytes_written" in self.layer_sums:
            written = self.layer_sums["sources.bytes_written"] / self.ops()
            out["lake_bytes_per_input_byte"] = written / self.input_bytes
        return out


# --- nightly -----------------------------------------------------------------

INC_SPEC_ARGS = ("order_id", "order_id", "order_item_id", "order_purchase_timestamp")
DIMS = (("customers", "customer_id"), ("products", "product_id"))
CSV_TABLES = ("orders", "order_items", "customers", "products")


class Nightly(Workload):
    """The nightly batch, as the cron runs it on one session: a Phase 2
    night over a prebuilt backfill lake, then the corpus refresh.

    The lake night lands the night's orders by month, runs the
    ledger-gated bronze incremental, replaces the dimensions that
    changed, and rebuilds silver (with its quality gates) and gold from
    bronze. The corpus refresh runs ``prepare_corpus`` with its packed
    train split and val split collected, then the embedding
    near-duplicate search. All steps are stages of the program's
    ``plans.flows.Flow``; one run of the flow is one timed pass."""

    name = "nightly"
    sizes = {"orders": 5000, "backfill_months": 2, "customers": 2500,
             "products": 800, "late_fraction": 0.1,
             "base_docs": 250, "exact_dups": 15, "near_dups": 15, "junk_docs": 10,
             "vectors": 600, "dim": 32, "vector_pairs": 24, "threshold": 0.99}

    def generate(self) -> None:
        s = self.sizes
        self.night = gen.olist_night(self.seed, s["orders"], s["backfill_months"],
                                     s["customers"], s["products"], s["late_fraction"])
        self.raw_backfill = os.path.join(self.work, "raw_backfill")
        self.raw_night = os.path.join(self.work, "raw_night")
        gen.write_olist(self.night["backfill"], self.raw_backfill)
        sizes = gen.write_olist(self.night["night"], self.raw_night)

        docs, self.truth = gen.corpus_frame(self.seed, s["base_docs"], s["exact_dups"],
                                            s["near_dups"], s["junk_docs"])
        emb, self.pairs = gen.embeddings_frame(self.seed, s["vectors"], s["dim"],
                                               s["vector_pairs"])
        self.vectors = {int(i): np.asarray(v) for i, v in zip(emb["vec_id"], emb["embedding"])}
        self.docs_path = os.path.join(self.work, "docs.parquet")
        self.emb_path = os.path.join(self.work, "emb.parquet")
        gen.write_parquet(docs, self.docs_path)
        gen.write_parquet(emb, self.emb_path)
        # the lake's write amplification is relative to the night's CSVs
        self.input_bytes = sum(sizes[t] for t in CSV_TABLES)
        lake_rows = sum(len(self.night["night"][t]) for t in CSV_TABLES)
        self.input_rows = lake_rows + len(docs) + len(emb)
        self.detail.update(input_rows=self.input_rows, lake_input_rows=lake_rows,
                           lake_input_bytes=self.input_bytes, corpus_docs=len(docs),
                           vectors=len(emb))

    def _spec(self):
        from data_engineering_project_spark.plans.incremental import IncrementalSpec

        return IncrementalSpec(*INC_SPEC_ARGS)

    def _csv(self, raw: str, table: str):
        from data_engineering_project_spark.sources.csv import read_csv

        return read_csv(self.spark, os.path.join(raw, f"olist_{table}_dataset.csv"))

    def _orders(self, raw: str):
        from pyspark.sql import functions as F

        return self._csv(raw, "orders").withColumn(
            "order_purchase_timestamp", F.to_timestamp("order_purchase_timestamp"))

    def prepare(self) -> None:
        """The lake as earlier nights left it: one landed file per month
        with its manifest entry, each month appended to bronze, the
        backfill's items, a ledger row per file, and the two dimensions.
        Each pass starts from a copy of it."""
        from data_engineering_project_spark.plans.incremental import (
            content_fingerprint,
            land_monthly,
        )
        from data_engineering_project_spark.sources.control_table import (
            LEDGER_SCHEMA,
            ControlTable,
        )

        spark, spec, raw = self.spark, self._spec(), self.raw_backfill
        self.pristine = os.path.join(self.work, "lake_backfill")
        landing = os.path.join(self.pristine, "landing_zone")
        bronze = os.path.join(self.pristine, "bronze")
        landed = land_monthly(self._orders(raw), spec.ts_col, spec.order_key, landing)
        processed_at = datetime(2017, 1, 1)
        records = []
        for period, n in sorted(landed.items()):
            fname = f"orders_{period}.parquet"
            batch = spark.read.parquet(os.path.join(landing, fname))
            batch.write.mode("append").parquet(os.path.join(bronze, "orders"))
            records.append((fname, content_fingerprint(batch, spec.order_key, spec.ts_col),
                            processed_at, n, n, "OK", "backfill"))
        # every backfill item belongs to a backfill order
        self._csv(raw, "order_items").write.parquet(os.path.join(bronze, "order_items"))
        for dim, key in DIMS:
            incoming = self._csv(raw, dim)
            incoming.write.mode("overwrite").parquet(os.path.join(bronze, dim))
            n = len(self.night["backfill"][dim])
            records.append((f"olist_{dim}_dataset.csv", content_fingerprint(incoming, key),
                            processed_at, n, n, "OK", "replaced"))
        ControlTable(spark, os.path.join(bronze, "tech_processed_files")).upsert(
            spark.createDataFrame(records, LEDGER_SCHEMA))

    def warm_up(self) -> None:
        """The backfill above already ran the lake's code paths; start
        the Python worker pool the packing and similarity kernels run in."""
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, n, numPartitions=n).mapInPandas(
            lambda it: it, "id long").collect()

    def _flow(self, raw: str, lake: str, out: dict):
        """The night as a flow of the program's stages, each stage call
        wrapped in its span; stage results are also kept in ``out``."""
        from data_engineering_project_spark.operators.similarity import (
            embedding_near_dups_ann,
        )
        from data_engineering_project_spark.plans import olist
        from data_engineering_project_spark.plans.corpus_prep import prepare_corpus
        from data_engineering_project_spark.plans.flows import Flow, Stage
        from data_engineering_project_spark.plans.incremental import (
            land_monthly,
            replace_dimension,
            run_incremental,
        )
        from data_engineering_project_spark.sources.control_table import ControlTable

        spark, t, spec = self.spark, self.tracer, self._spec()
        landing = os.path.join(lake, "landing_zone")
        bronze = os.path.join(lake, "bronze")

        def landing_stage(ctx):
            with t.span("incremental.land_monthly"):
                out["landed"] = land_monthly(self._orders(raw), spec.ts_col,
                                             spec.order_key, landing)

        def bronze_stage(ctx):
            with t.span("incremental.run_incremental"):
                out["results"] = run_incremental(spark, landing, bronze, spec,
                                                 self._csv(raw, "order_items"))

        def dimensions_stage(ctx):
            ledger = ControlTable(spark, os.path.join(bronze, "tech_processed_files"))
            replaced = {}
            for dim, key in DIMS:
                with t.span("incremental.replace_dimension"):
                    replaced[dim] = replace_dimension(
                        spark, os.path.join(bronze, dim), self._csv(raw, dim), key,
                        ledger, f"olist_{dim}_dataset.csv")
            out["replaced"] = replaced

        def silver_stage(ctx):
            with t.span("sources.read_parquet"):
                frames = {n: spark.read.parquet(os.path.join(bronze, n)) for n in CSV_TABLES}
            with t.span("olist.silver_clean"):
                return olist.silver_clean(spark, frames, lake)

        def gold_stage(ctx):
            with t.span("olist.gold_build"):
                return olist.gold_build(spark, ctx["silver"], lake)

        def corpus_stage(ctx):
            with t.span("corpus_prep.prepare_corpus"):
                res = prepare_corpus(spark.read.parquet(self.docs_path))
            with t.span("corpus_prep.pack"):
                out["packs"] = res.train_packed.select("doc_ids").collect()
            with t.span("corpus_prep.val"):
                out["val"] = res.val.select("doc_id").collect()
            out["funnel"] = res.funnel

        def embeddings_stage(ctx):
            with t.span("similarity.embedding_near_dups_ann"):
                out["pairs"] = embedding_near_dups_ann(
                    spark.read.parquet(self.emb_path),
                    threshold=self.sizes["threshold"]).collect()

        return Flow("nightly", [
            Stage("landing", landing_stage), Stage("bronze", bronze_stage),
            Stage("dimensions", dimensions_stage), Stage("silver", silver_stage),
            Stage("gold", gold_stage), Stage("corpus", corpus_stage),
            Stage("embeddings", embeddings_stage),
        ])

    def before_pass(self, i: int) -> None:
        self.lake = os.path.join(self.work, "lake")
        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.copytree(self.pristine, self.lake)
        self.t_wall = time.time()

    def run_pass(self, i: int) -> None:
        self.out = {}
        flow = self._flow(self.raw_night, self.lake, self.out)
        with self.tracer.span("flows.Flow.run"):
            self.report = flow.run()

    def after_pass(self, i: int) -> None:
        files, size = changed_files(self.lake, self.t_wall - 1)
        self.add("sources.files_written", files)
        self.add("sources.bytes_written", size)
        self.add("sources.ledger_files",
                 tree_size(os.path.join(self.lake, "bronze", "tech_processed_files"))[0])
        res = self.out["results"].values()
        self.add("incremental.months_examined", len(res))
        self.add("incremental.months_skipped", sum(1 for r in res if r["rows_in"] == 0))
        self.add("incremental.orders_inserted", sum(r["orders_inserted"] for r in res))
        self.add("incremental.items_inserted", sum(r["items_inserted"] for r in res))
        self.add("incremental.useful_ratio",
                 sum(1 for r in res if r["orders_inserted"]) / max(len(res), 1))
        for st in self.report.stages:
            self.add(f"flow.{st.name}_s", st.seconds)

        f = self.out["funnel"]
        survivors = {d for r in self.out["packs"] for d in r["doc_ids"]} | \
            {r["doc_id"] for r in self.out["val"]}
        found = {(r["id_a"], r["id_b"]) for r in self.out["pairs"]}
        near = self.truth["near"]
        for k in ("after_exact_dedup", "after_near_dedup", "after_quality", "train_packs"):
            self.add(f"corpus_prep.{k}", f[k])
        self.add("dedup.exact_removed", f["raw"] - f["after_exact_dedup"])
        self.add("dedup.planted_recall",
                 sum(1 for a, b in near if not (a in survivors and b in survivors)) / len(near))
        self.add("similarity.pairs_out", len(found))
        self.add("similarity.planted_recall",
                 sum(1 for p in self.pairs if p in found) / len(self.pairs))
        self.survivors = survivors

    def check(self) -> None:
        """The night inserts exactly the delta and replaces only the
        changed dimension, a replay inserts nothing, bronze order keys
        stay unique, and gold matches DuckDB over the night's CSVs. The
        corpus refresh removes every planted exact copy, and every ANN
        pair is really above the cosine threshold."""
        from data_engineering_project_spark.plans.incremental import run_incremental

        if not self.latencies:
            self.expect(False, "no night completed")
            return
        res = self.out["results"].values()
        orders = sum(r["orders_inserted"] for r in res)
        items = sum(r["items_inserted"] for r in res)
        self.expect(
            (orders, items) == (self.night["delta_orders"], self.night["delta_items"]),
            f"night inserted {orders} orders / {items} items, delta is "
            f"{self.night['delta_orders']} / {self.night['delta_items']}")
        self.expect(self.out["replaced"] == {"customers": True, "products": False},
                    f"dimension replacement {self.out['replaced']}")
        self.expect(len(self.out["landed"]) == 2,
                    f"landed {sorted(self.out['landed'])}, expected 2 months")

        # replay the month files the night ingested; the ledger must skip them
        landing = os.path.join(self.lake, "landing_zone")
        replay_landing = os.path.join(self.work, "replay_landing")
        for period in self.out["landed"]:
            name = f"orders_{period}.parquet"
            shutil.copytree(os.path.join(landing, name), os.path.join(replay_landing, name))
        bronze = os.path.join(self.lake, "bronze")
        t0 = time.perf_counter()
        replay = run_incremental(self.spark, replay_landing, bronze, self._spec(),
                                 self._csv(self.raw_night, "order_items"))
        self.skip_s_per_month = (time.perf_counter() - t0) / max(len(replay), 1)
        self.expect(not any(r["orders_inserted"] or r["items_inserted"] for r in replay.values()),
                    "replay inserted rows")
        con = duckdb.connect()
        n, d = con.execute(
            "SELECT count(*), count(DISTINCT order_id) FROM read_parquet("
            f"'{bronze}/orders/**/*.parquet')").fetchone()
        self.expect(n == d, f"bronze order keys not unique: {n} rows, {d} keys")
        self._check_gold(con)
        con.close()
        self._check_corpus()
        self.detail.update(delta_orders=self.night["delta_orders"],
                           delta_items=self.night["delta_items"],
                           changed_month=self.night["changed_month"])

    def _check_gold(self, con) -> None:
        """Gold row counts and total revenue, read from the gold parquet,
        against DuckDB over the night's CSVs (bronze now holds every
        order they contain)."""
        gold = os.path.join(self.lake, "gold")
        got = {n: con.execute(f"SELECT count(*) FROM read_parquet('{gold}/{n}/**/*.parquet')"
                              ).fetchone()[0] for n in GOLD_TABLES}
        revenue = con.execute(
            "SELECT sum(CAST(price AS DECIMAL(38,2))) FROM "
            f"read_parquet('{gold}/fact_sales/**/*.parquet')").fetchone()[0]
        for t in CSV_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_csv("
                f"'{self.raw_night}/olist_{t}_dataset.csv', header=true, all_varchar=true)")
        delivered = ("FROM orders o JOIN order_items i USING (order_id)"
                     " WHERE o.order_status = 'delivered'")
        want = {
            "fact_sales": con.execute(f"SELECT count(*) {delivered}").fetchone()[0],
            "dim_customers": con.execute("SELECT count(*) FROM customers").fetchone()[0],
            "dim_products": con.execute("SELECT count(*) FROM products").fetchone()[0],
            "dim_time": con.execute(
                "SELECT count(DISTINCT CAST(CAST(order_purchase_timestamp AS TIMESTAMP) AS DATE))"
                " FROM orders WHERE order_purchase_timestamp IS NOT NULL").fetchone()[0],
        }
        want_rev = con.execute(
            f"SELECT sum(CAST(i.price AS DECIMAL(38,2))) {delivered}").fetchone()[0]
        for n in GOLD_TABLES:
            self.expect(got[n] == want[n], f"gold {n}: {got[n]} rows, DuckDB {want[n]}")
        self.expect(revenue == want_rev, f"gold revenue {revenue} != DuckDB {want_rev}")
        self.detail["gold_rows"] = got

    def _check_corpus(self) -> None:
        f = self.out["funnel"]
        self.expect(f["raw"] - f["after_exact_dedup"] == len(self.truth["exact"]),
                    f"exact dedup removed {f['raw'] - f['after_exact_dedup']}, "
                    f"planted {len(self.truth['exact'])}")
        both = [p for p in self.truth["exact"] if p[0] in self.survivors and p[1] in self.survivors]
        self.expect(not both, f"{len(both)} planted exact duplicates survived")
        thr = self.sizes["threshold"]
        low = []
        for r in self.out["pairs"]:
            a, b = self.vectors[r["id_a"]], self.vectors[r["id_b"]]
            cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            if cos <= thr:
                low.append((r["id_a"], r["id_b"], round(cos, 5)))
        self.expect(not low, f"ANN pairs at or below cosine {thr}: {low[:5]}")
        self.detail.update(funnel=f, planted_exact=len(self.truth["exact"]),
                           planted_near=len(self.truth["near"]),
                           planted_vector_pairs=len(self.pairs))

    def layer_metrics(self) -> dict[str, float]:
        out = super().layer_metrics()
        out["incremental.skip_s_per_month"] = getattr(self, "skip_s_per_month", 0.0)
        return out

    def workload_metrics(self) -> dict:
        out = super().workload_metrics()
        n = max(self.ops(), 1)
        out["flow_stage_s"] = {k[5:-2]: v / n for k, v in self.layer_sums.items()
                               if k.startswith("flow.")}
        return out


# --- dashboard_serving ---------------------------------------------------------

QUERIES = ("kpis", "top_categories", "orders_by_state", "delivery_days_by_state",
           "freight_by_state", "monthly_trend", "weekday_seasonality")
QUESTIONS = (
    "revenue by state", "top 5 revenue by category", "orders by month",
    "delivery by state", "freight by category", "revenue by weekday",
    "top 3 orders by city in state {s}", "revenue by month in state {s}",
    "orders by category in 2017", "bottom 5 freight by state",
    "revenue by category since 2017-06", "delivery by month in state {s}",
)
HOSTILE = (
    "DROP TABLE fact_sales",
    "```sql\nSELECT * FROM fact_sales; DELETE FROM dim_customers\n```",
    "Sure! INSERT INTO dim_products VALUES ('x', 'y')",
    "WITH t AS (SELECT 1) SELECT * FROM t; TRUNCATE TABLE dim_time",
    "WITH t AS (SELECT 1 AS x) INSERT INTO dim_time SELECT * FROM t",
    "Here you go: SELECT * FROM dim_customers; DROP VIEW fact_sales",
)


@dataclass(frozen=True)
class ClientPlan:
    """A client's seeded request mix. Refresh ``n`` uses filter
    ``(offset + n) mod 3`` and question ``n`` of the shuffled list, and
    every 20th generation is hostile, so every run serves the same mix in
    a seed-dependent order."""

    offset: int
    questions: list


class DashboardServing(Workload):
    """Four closed-loop clients refreshing the dashboard over materialized
    gold: 7 analytics queries plus one text-to-SQL answer per refresh."""

    name = "dashboard_serving"
    sizes = {"orders": 10000, "months": 12, "customers": 5000, "products": 1000,
             "clients": 4, "hostile_every": 20}
    setup_repeats = 3

    def generate(self) -> None:
        s = self.sizes
        self.frames = gen.olist_frames(self.seed, s["orders"], s["months"],
                                       s["customers"], s["products"])

    def prepare(self) -> None:
        """Materialize gold as parquet and register it for serving, read
        from parquet with no cache. The gold build itself is timed by
        ``nightly``; here it would only add to a run's setup."""
        from data_engineering_project_spark.serving.sql import register_gold_views

        tables = gen.gold_tables(self.frames)
        self.gold_dir = os.path.join(self.work, "gold")
        shutil.rmtree(self.gold_dir, ignore_errors=True)
        gen.write_gold(tables, self.gold_dir)
        self.gold = {n: self.spark.read.parquet(os.path.join(self.gold_dir, n))
                     for n in GOLD_TABLES}
        register_gold_views(self.spark, self.gold)
        # filters draw from the 8 states with the most customers
        states = tables["dim_customers"]["customer_state"].value_counts().index[:8].tolist()
        rng = random.Random(self.seed)
        self.filters = [None, [rng.choice(states)], sorted(rng.sample(states, 3))]
        self.fact_rows = len(tables["fact_sales"])

    def _query(self, name: str, states):
        from data_engineering_project_spark.plans import analytics

        g = self.gold
        fact, dc, dp = g["fact_sales"], g["dim_customers"], g["dim_products"]
        if name == "top_categories":
            return analytics.top_categories(fact, dp, dc, states)
        return getattr(analytics, name)(fact, dc, states)

    def _refresh(self, plan: ClientPlan, n: int, record, deadline: float) -> bool:
        """Refresh ``n`` of a client: the 7 queries, then one generation.
        No request starts after ``deadline``; returns whether the refresh
        completed."""
        from data_engineering_project_spark.serving.sql import (
            UnsafeSQLError,
            run_readonly_sql,
        )
        from data_engineering_project_spark.serving.text2sql import answer, translate

        t, sc = self.tracer, self.spark.sparkContext
        states = self.filters[(plan.offset + n) % len(self.filters)]
        for q in QUERIES:
            if time.perf_counter() >= deadline:
                return False
            group = f"r{next(self._req_ids)}"
            if self.traced:
                sc.setJobGroup(group, q)
            t0 = time.perf_counter()
            with t.span(f"analytics.{q}"):
                rows = self._query(q, states).collect()
            record("request", time.perf_counter() - t0, group, (q, tuple(states or ()), rows))
        if time.perf_counter() >= deadline:
            return False
        group = f"r{next(self._req_ids)}"
        if self.traced:
            sc.setJobGroup(group, "text2sql")
        if (plan.offset + n) % self.sizes["hostile_every"] == 0:
            text = HOSTILE[n % len(HOSTILE)]
            t0 = time.perf_counter()
            try:
                with t.span("text2sql.answer_hostile"):
                    answer(self.spark, "anything", generate_fn=lambda _p, s=text: s)
                record("leak", time.perf_counter() - t0, group, text)
            except UnsafeSQLError:
                record("rejected", time.perf_counter() - t0, group, None)
            return True
        question = plan.questions[n % len(plan.questions)].format(s=(states or ["SP"])[0])
        t0 = time.perf_counter()
        with t.span("text2sql.translate"):
            sql = translate(question)
        with t.span("sql.run_readonly_sql"):
            df = run_readonly_sql(self.spark, sql)
        with t.span("sql.collect"):
            df.collect()
        record("request", time.perf_counter() - t0, group, None)
        return True

    def _client_loop(self, cid: int, deadline: float, refreshes: int | None) -> None:
        """A closed-loop client: the next refresh starts when the last
        one has finished."""
        rng = random.Random(self.seed * 1000 + cid)
        plan = ClientPlan(offset=rng.randrange(self.sizes["hostile_every"]),
                          questions=rng.sample(QUESTIONS, len(QUESTIONS)))
        n = 0
        while time.perf_counter() < deadline and (refreshes is None or n < refreshes):
            t0 = time.perf_counter()
            try:
                with self.tracer.trace(f"c{cid}-{n}"), self.tracer.span("bench.refresh"):
                    done = self._refresh(plan, n, self._record, deadline)
                if done and self._measuring:
                    with self._lock:
                        self.interactions.append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 - counted, reported
                with self._lock:
                    self.attempted += 1
                    self.failures.append(f"client {cid}: {type(exc).__name__}: {exc}")
            n += 1

    def _record(self, kind, seconds, group, payload) -> None:
        if not self._measuring:
            return
        with self._lock:
            self.attempted += 1
            if kind == "request":
                self.latencies.append(seconds)
                self.groups.append(group)
                if payload is not None:
                    self.answers.setdefault(payload[:2], payload[2])
            elif kind == "rejected":
                self.rejected += 1
            else:
                self.failures.append(f"hostile generation executed: {payload!r}")

    def _run_clients(self, clients: int, seconds: float, refreshes: int | None = None) -> None:
        deadline = time.perf_counter() + seconds
        threads = [threading.Thread(target=self._client_loop, args=(c, deadline, refreshes))
                   for c in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()

    def warm_up(self) -> None:
        """The server renders the dashboard page once at start, which
        runs the 7 analytics queries for the first time; then each
        client does one untimed refresh, as a dashboard server has served
        before its users arrive."""
        import itertools

        from data_engineering_project_spark.serving.dashboard import render_dashboard

        t0 = time.perf_counter()
        html = render_dashboard(self.spark, "", frames=self.gold, source_label=self.gold_dir)
        self.render_s = time.perf_counter() - t0
        self.expect("<svg" in html, "dashboard render produced no charts")
        self._lock = threading.Lock()
        self._req_ids = itertools.count()
        self._measuring = False
        self.interactions: list[float] = []
        self.groups: list[str] = []
        self.answers: dict = {}
        self.rejected = 0
        self._run_clients(self.sizes["clients"], 600.0, refreshes=1)

    def measure(self, seconds: float) -> None:
        self._measuring = True
        t0 = time.perf_counter()
        self._run_clients(self.sizes["clients"], seconds)
        self.window_s = time.perf_counter() - t0
        self._measuring = False
        if self.traced:
            for g in self.groups:
                for k, v in self.counters.group(g).items():
                    self.add(f"session.{k}", v)

    def check(self) -> None:
        """KPI and top-category answers for each filter match DuckDB over
        the gold parquet (hostile generations were checked as they ran)."""
        con = duckdb.connect()
        for n in ("fact_sales", "dim_customers", "dim_products"):
            con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{self.gold_dir}/{n}/*.parquet')")
        checked = 0
        for (q, states), rows in self.answers.items():
            if q not in ("kpis", "top_categories"):
                continue
            where = ""
            if states:
                where = "WHERE c.customer_state IN (%s)" % ", ".join(f"'{s}'" for s in states)
            base = "FROM fact_sales f JOIN dim_customers c USING (customer_id)"
            if q == "kpis":
                want = con.execute(
                    "SELECT CAST(ROUND(SUM(CAST(rev AS DECIMAL(38,6))), 2) AS DOUBLE),"
                    " count(*) FROM (SELECT order_id, sum(price) AS rev "
                    f"{base} {where} GROUP BY order_id)").fetchone()
                got = (rows[0]["total_revenue"], rows[0]["total_orders"])
                ok = abs(got[0] - want[0]) <= 0.011 and got[1] == want[1]
            else:
                want = con.execute(
                    "SELECT p.product_category_name,"
                    " CAST(ROUND(SUM(CAST(price AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue "
                    f"{base} JOIN dim_products p USING (product_id) {where} "
                    "GROUP BY 1 ORDER BY revenue DESC, 1 ASC LIMIT 10").fetchall()
                got = [(r["product_category_name"], r["revenue"]) for r in rows]
                ok = [w[0] for w in want] == [g[0] for g in got] and all(
                    abs(w[1] - g[1]) <= 0.011 for w, g in zip(want, got))
            checked += 1
            self.expect(ok, f"{q} {states}: spark {got} != duckdb {want}")
        con.close()
        self.expect(checked > 0, "no KPI/top-category answers to check")
        self.detail.update(fact_rows=self.fact_rows, answers_checked=checked,
                           filters=[f or [] for f in self.filters])

    def layer_metrics(self) -> dict[str, float]:
        out = super().layer_metrics()
        out["sql.rejected"] = float(self.rejected)
        out["dashboard.render_s"] = self.render_s
        return out

    def self_times(self) -> dict[str, float]:
        """Mean self time per call of each span: one query's latency for
        the analytics spans, one refresh's glue for ``bench.refresh``."""
        calls: dict[str, int] = {}
        for s in self.op_spans:
            calls[s.name] = calls.get(s.name, 0) + 1
        return {k: v / calls[k] for k, v in Tracer.self_times(self.op_spans).items()}

    def ops_per_s(self) -> float:
        """Requests completed per second of the window, at 4 clients."""
        return len(self.latencies) / self.window_s

    def workload_metrics(self) -> dict:
        lat = self.latencies
        out = {"request_s_p50": percentile(lat, 50), "request_s_p80": percentile(lat, 80),
               "interaction_s_p50": percentile(self.interactions, 50),
               "requests_per_s": self.ops_per_s(),
               "requests": len(lat), "interactions": len(self.interactions)}
        # a percentile is reported only with at least ten samples beyond it
        if len(lat) >= 100:
            out["request_s_p90"] = percentile(lat, 90)
        if len(lat) >= 200:
            out["request_s_p95"] = percentile(lat, 95)
        if len(self.interactions) >= 100:
            out["interaction_s_p90"] = percentile(self.interactions, 90)
        return out


WORKLOADS = {w.name: w for w in (Nightly, DashboardServing)}
