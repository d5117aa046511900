"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and writes plain files (CSV or parquet)
into a directory; the program under test sees only those files. The
same seed always gives byte-identical inputs.

- ``olist``: the five Olist-shaped CSVs the pipeline ingests
  (BOM-prefixed, like the real dataset), split into a backfill state
  and one night's delta, and the gold star schema built from them.
- ``corpus``: documents with planted exact duplicates, near duplicates
  and junk, as parquet.
- ``embeddings``: vectors with planted near-duplicate pairs, as parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

STATES = [
    "SP", "RJ", "MG", "RS", "PR", "SC", "BA", "DF", "GO", "ES", "PE", "CE",
    "PA", "MT", "MA", "MS", "PB", "PI", "RN", "AL", "SE", "TO", "RO", "AM",
    "AC", "AP", "RR",
]
# Olist's customer distribution is heavily skewed towards the south-east.
_STATE_W = np.array([40, 13, 12, 6, 5, 4, 3.5, 2.2, 2.1, 2.0, 1.7, 1.4,
                     1.0, 0.9, 0.8, 0.7, 0.6, 0.5, 0.5, 0.4, 0.35, 0.3,
                     0.25, 0.15, 0.08, 0.07, 0.05])
CATEGORIES = [
    "cama_mesa_banho", "beleza_saude", "esporte_lazer", "moveis_decoracao",
    "informatica_acessorios", "utilidades_domesticas", "relogios_presentes",
    "telefonia", "ferramentas_jardim", "automotivo", "brinquedos",
    "cool_stuff", "perfumaria", "bebes", "eletronicos", "papelaria",
    "fashion_bolsas_e_acessorios", "pet_shop", "moveis_escritorio",
    "consoles_games", "malas_acessorios", "construcao_ferramentas",
    "eletrodomesticos", "instrumentos_musicais", "eletroportateis",
    "casa_construcao", "livros_interesse_geral", "alimentos",
    "moveis_sala", "casa_conforto",
]
_STATUS = ["delivered", "shipped", "canceled", "invoiced", "processing"]
_STATUS_P = [0.92, 0.04, 0.02, 0.01, 0.01]
_TS = "%Y-%m-%d %H:%M:%S"

ORDER_COLS = [
    "order_id", "customer_id", "order_status", "order_purchase_timestamp",
    "order_approved_at", "order_delivered_carrier_date",
    "order_delivered_customer_date", "order_estimated_delivery_date",
]
ITEM_COLS = [
    "order_id", "order_item_id", "product_id", "seller_id",
    "shipping_limit_date", "price", "freight_value",
]


def _hex_ids(rng: np.random.Generator, n: int) -> list[str]:
    """Olist-style 32-hex ids; 128 random bits make collisions moot."""
    hi = rng.integers(0, 2**63, size=n, dtype=np.int64)
    lo = rng.integers(0, 2**63, size=n, dtype=np.int64)
    return [f"{a:016x}{b:016x}" for a, b in zip(hi.tolist(), lo.tolist())]


def _fmt_ts(ts: np.ndarray) -> np.ndarray:
    return pd.to_datetime(ts).strftime(_TS).to_numpy()


def _write_csv(df: pd.DataFrame, path: str) -> int:
    df.to_csv(path, index=False, encoding="utf-8-sig")
    return os.path.getsize(path)


def olist_frames(
    seed: int,
    n_orders: int,
    months: int,
    n_customers: int,
    n_products: int,
    n_sellers: int = 300,
) -> dict[str, pd.DataFrame]:
    """Olist-shaped tables as pandas frames. Orders spread evenly over
    ``months`` calendar months from 2017-01; 1-4 items per order."""
    rng = np.random.default_rng(seed)
    p_state = _STATE_W / _STATE_W.sum()

    customers = pd.DataFrame({
        "customer_id": _hex_ids(rng, n_customers),
        "customer_unique_id": _hex_ids(rng, n_customers),
        "customer_zip_code_prefix": rng.integers(1000, 99999, n_customers),
        "customer_city": rng.choice(["sao paulo", "rio de janeiro", "belo horizonte",
                                     "curitiba", "porto alegre", "salvador",
                                     "brasilia", "campinas"], n_customers),
        "customer_state": rng.choice(STATES, n_customers, p=p_state),
    })
    cat_w = 1.0 / np.arange(1, len(CATEGORIES) + 1)
    products = pd.DataFrame({
        "product_id": _hex_ids(rng, n_products),
        "product_category_name": rng.choice(CATEGORIES, n_products, p=cat_w / cat_w.sum()),
        "product_weight_g": rng.integers(50, 30000, n_products),
    })
    sellers = pd.DataFrame({
        "seller_id": _hex_ids(rng, n_sellers),
        "seller_zip_code_prefix": rng.integers(1000, 99999, n_sellers),
        "seller_city": "sao paulo",
        "seller_state": rng.choice(STATES, n_sellers, p=p_state),
    })

    # purchase timestamps: month m gets orders m*n/months .. (m+1)*n/months
    month_of = np.arange(n_orders) * months // n_orders
    month_start = np.array(
        [np.datetime64(f"{2017 + (m // 12)}-{m % 12 + 1:02d}-01") for m in range(months + 1)],
        dtype="datetime64[s]",
    )
    span = (month_start[month_of + 1] - month_start[month_of]).astype(np.int64)
    purchase = month_start[month_of] + (rng.random(n_orders) * span).astype("timedelta64[s]")
    status = rng.choice(_STATUS, n_orders, p=_STATUS_P)
    approved = purchase + rng.integers(600, 86400, n_orders).astype("timedelta64[s]")
    carrier = approved + rng.integers(86400, 5 * 86400, n_orders).astype("timedelta64[s]")
    delivered = carrier + rng.integers(86400, 25 * 86400, n_orders).astype("timedelta64[s]")
    estimated = purchase + rng.integers(10, 40, n_orders).astype("timedelta64[D]")
    is_delivered = status == "delivered"
    order_ids = _hex_ids(rng, n_orders)
    orders = pd.DataFrame({
        "order_id": order_ids,
        "customer_id": rng.choice(customers["customer_id"].to_numpy(), n_orders),
        "order_status": status,
        "order_purchase_timestamp": _fmt_ts(purchase),
        "order_approved_at": _fmt_ts(approved),
        "order_delivered_carrier_date": np.where(is_delivered, _fmt_ts(carrier), ""),
        "order_delivered_customer_date": np.where(is_delivered, _fmt_ts(delivered), ""),
        "order_estimated_delivery_date": _fmt_ts(estimated.astype("datetime64[s]")),
        "month": month_of,
    })

    n_items = rng.choice([1, 2, 3, 4], n_orders, p=[0.7, 0.2, 0.07, 0.03])
    item_order = np.repeat(np.arange(n_orders), n_items)
    starts = np.repeat(np.cumsum(n_items) - n_items, n_items)
    line_no = np.arange(len(item_order)) - starts + 1
    n_lines = len(item_order)
    # product popularity is Zipf-like, as in the real catalogue
    prod_w = 1.0 / np.arange(1, n_products + 1) ** 0.8
    items = pd.DataFrame({
        "order_id": np.asarray(order_ids, dtype=object)[item_order],
        "order_item_id": line_no,
        "product_id": rng.choice(products["product_id"].to_numpy(), n_lines,
                                 p=prod_w / prod_w.sum()),
        "seller_id": rng.choice(sellers["seller_id"].to_numpy(), n_lines),
        "shipping_limit_date": _fmt_ts(purchase[item_order] + np.timedelta64(6, "D")),
        "price": np.round(rng.lognormal(4.2, 0.9, n_lines), 2),
        "freight_value": np.round(rng.gamma(2.0, 10.0, n_lines), 2),
    })
    return {
        "orders": orders,
        "order_items": items,
        "customers": customers,
        "products": products,
        "sellers": sellers,
    }


def write_olist(frames: dict[str, pd.DataFrame], raw_dir: str) -> dict[str, int]:
    """Write the five ``olist_<table>_dataset.csv`` files; returns
    {table: bytes}."""
    os.makedirs(raw_dir, exist_ok=True)
    sizes = {}
    for table, df in frames.items():
        cols = ORDER_COLS if table == "orders" else (
            ITEM_COLS if table == "order_items" else list(df.columns))
        sizes[table] = _write_csv(
            df[cols], os.path.join(raw_dir, f"olist_{table}_dataset.csv"))
    return sizes


def gold_tables(frames: dict[str, pd.DataFrame]) -> dict[str, pd.DataFrame]:
    """The Olist gold star schema of ``plans.medallion`` (delivered
    orders at item grain, delivery days as a date difference, the two
    dimension projections, daily dim_time), computed from the generated
    tables so serving can start from materialized gold."""
    o = frames["orders"]
    purchase = pd.to_datetime(o["order_purchase_timestamp"])
    delivered = pd.to_datetime(o["order_delivered_customer_date"].replace("", None))
    orders = pd.DataFrame({
        "order_id": o["order_id"], "customer_id": o["customer_id"],
        "order_purchase_timestamp": purchase.dt.tz_localize("UTC"),
        "delivery_time_days": (delivered.dt.normalize() - purchase.dt.normalize()).dt.days,
    })[(o["order_status"] == "delivered").to_numpy()]
    items = frames["order_items"][["order_id", "product_id", "price", "freight_value"]]
    fact = orders.merge(items, on="order_id")[[
        "order_id", "customer_id", "product_id", "price", "freight_value",
        "order_purchase_timestamp", "delivery_time_days"]]
    fact["delivery_time_days"] = fact["delivery_time_days"].astype("int32")
    days = pd.Series(sorted(purchase.dt.normalize().unique()))
    dim_time = pd.DataFrame({
        "order_date": days.dt.date, "day": days.dt.day.astype("int32"),
        "month": days.dt.month.astype("int32"), "year": days.dt.year.astype("int32"),
        "quarter": days.dt.quarter.astype("int32"), "day_of_week": days.dt.day_name(),
    })
    return {
        "fact_sales": fact,
        "dim_customers": frames["customers"][["customer_id", "customer_city", "customer_state"]],
        "dim_products": frames["products"][["product_id", "product_category_name"]],
        "dim_time": dim_time,
    }


def write_gold(tables: dict[str, pd.DataFrame], gold_dir: str) -> None:
    """One parquet directory per table, as the lake lays gold out."""
    for name, df in tables.items():
        os.makedirs(os.path.join(gold_dir, name), exist_ok=True)
        df.to_parquet(os.path.join(gold_dir, name, "part-00000.parquet"), index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)


def olist_night(
    seed: int,
    n_orders: int,
    backfill_months: int,
    n_customers: int,
    n_products: int,
    late_fraction: float,
) -> dict:
    """One Phase 2 night over a backfill of ``backfill_months`` months.

    Returns the ``backfill`` tables (the lake's state before the night)
    and the ``night`` tables (what lands tonight), plus the exact delta.
    The night re-delivers every backfill month; one of them (chosen by
    the seed) now also carries ``late_fraction`` late-arriving orders,
    one new month follows the backfill, and the customers file grows
    by the customers those new orders reference. The products file is
    unchanged."""
    rng = np.random.default_rng(seed + 7919)
    months = backfill_months + 1
    full = olist_frames(seed, n_orders, months, n_customers, n_products)
    orders = full["orders"]
    changed_month = int(rng.integers(0, backfill_months))
    in_changed = np.flatnonzero(orders["month"].to_numpy() == changed_month)
    late = rng.choice(in_changed, max(1, int(len(in_changed) * late_fraction)), replace=False)
    is_delta = orders["month"].to_numpy() == backfill_months
    is_delta[late] = True
    delta_ids = set(orders["order_id"][is_delta])

    # customers only the delta references are new tonight
    before_cust = set(orders["customer_id"][~is_delta])
    new_cust = ~full["customers"]["customer_id"].isin(before_cust) & \
        full["customers"]["customer_id"].isin(set(orders["customer_id"][is_delta]))

    items = full["order_items"]
    item_delta = items["order_id"].isin(delta_ids).to_numpy()
    backfill = dict(full)
    backfill["orders"] = orders[~is_delta]
    backfill["order_items"] = items[~item_delta]
    backfill["customers"] = full["customers"][~new_cust.to_numpy()]
    return {
        "backfill": backfill,
        "night": full,
        "changed_month": changed_month,
        "delta_orders": int(is_delta.sum()),
        "delta_items": int(item_delta.sum()),
    }


# --- corpus -----------------------------------------------------------------

def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    syll = np.array(["ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "pe", "da",
                     "zu", "ro", "fi", "ga", "he", "jo", "bu", "ce", "xa", "wo"])
    lens = rng.integers(2, 5, n)
    picks = rng.integers(0, len(syll), (n, 4))
    words = {"".join(syll[picks[i, : lens[i]]]) for i in range(n)}
    return np.array(sorted(words))


def corpus_frame(
    seed: int, n_base: int, n_exact: int, n_near: int, n_junk: int
) -> tuple[pd.DataFrame, dict]:
    """Documents with planted problems.

    ``n_base`` distinct good documents (40-90 tokens from a ~8k-word
    vocabulary, so unrelated documents share no 3-shingles), then
    ``n_exact`` verbatim copies of base documents, ``n_near`` copies
    with one token replaced (shingle Jaccard ~0.95), and ``n_junk``
    short repetitive documents the quality gate drops. Ids are shuffled
    so copies are not always the higher id. Returns the frame and the
    planted truth: {"exact": [(keeper_text_id, copy_id)], "near": [...]}.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 8000)
    texts: list[str] = []
    for _ in range(n_base):
        n_tok = int(rng.integers(40, 91))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_tok)]))
    src_exact = rng.choice(n_base, n_exact, replace=False)
    src_near = rng.choice(np.setdiff1d(np.arange(n_base), src_exact), n_near, replace=False)
    for s in src_exact:
        texts.append(texts[s])
    for s in src_near:
        toks = texts[s].split(" ")
        pos = int(rng.integers(5, len(toks) - 5))
        toks[pos] = "zz" + toks[pos]
        texts.append(" ".join(toks))
    for _ in range(n_junk):
        w = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join([w] * int(rng.integers(3, 8))))
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    exact_pairs = [(int(ids[s]), int(ids[n_base + i])) for i, s in enumerate(src_exact)]
    near_pairs = [(int(ids[s]), int(ids[n_base + n_exact + i])) for i, s in enumerate(src_near)]
    df = pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": "und",
        "source": np.array(["web", "books", "code"])[ids % 3],
    })
    return df, {"exact": exact_pairs, "near": near_pairs}


def embeddings_frame(
    seed: int, n: int, dim: int, n_pairs: int
) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """``n`` vectors around 32 topic centres, with ``n_pairs``
    planted near-duplicate pairs (cosine > 0.995); unrelated vectors
    stay far below 0.99. Returns the frame and the planted pairs as
    (smaller id, larger id)."""
    rng = np.random.default_rng(seed + 104729)
    centres = rng.normal(size=(32, dim))
    base = n - n_pairs
    vecs = centres[rng.integers(0, 32, base)] * 0.6 + rng.normal(size=(base, dim))
    src = rng.choice(base, n_pairs, replace=False)
    dups = vecs[src] + rng.normal(scale=0.03, size=(n_pairs, dim))
    allv = np.vstack([vecs, dups])
    ids = rng.permutation(n).astype(np.int64) + 1
    pairs = [tuple(sorted((int(ids[s]), int(ids[base + i])))) for i, s in enumerate(src)]
    df = pd.DataFrame({"vec_id": ids, "embedding": list(np.round(allv, 6))})
    return df, pairs


def write_parquet(df: pd.DataFrame, path: str) -> int:
    df.to_parquet(path, index=False)
    return os.path.getsize(path)
