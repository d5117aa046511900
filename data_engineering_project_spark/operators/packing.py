"""Sequence packing — fill fixed token-budget bins with documents.

The step between a filtered corpus and a training run: concatenate
documents into sequences of at most ``max_tokens`` so the trainer sees
dense batches instead of padding. Exact global bin packing is NP-hard
and inherently serial; every production pipeline packs greedily within
shards instead. That maps onto a Spark grouped map, one group per shard:

1. tag each document with its shard, ``pmod(xxhash64(id), num_shards)``,
2. group by the shard tag — ``groupBy(...).applyInPandas`` plans the
   one shuffle itself, and AQE coalesces its partitions, so a small
   input runs a few Python tasks rather than one per shard,
3. sort within each shard (deterministic order, no global sort), then
   a greedy next-fit scan — documents stream in sorted order into the
   current bin until the budget would overflow, then a new bin opens.

Each shard packs independently — one shuffle on the shard tag, no
state across shards, linear time. Waste vs optimal is
bounded (next-fit ≤ 2× bins of optimal; in practice a few % for
doc ≪ budget) and the output is fully deterministic for a given
(num_shards, budget): shard membership is a hash of the id and order
within the shard is sorted, so re-runs and retries produce identical
packs — the same property :mod:`~data_engineering_project_spark.operators.sampling`
gives samples.

Oversize documents (> budget alone) get their own single-doc pack and
a ``truncated`` flag — the trainer-side truncation decision stays
explicit rather than silently dropped.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StructField,
    StructType,
)

PACK_SCHEMA = StructType(
    [
        StructField("shard", LongType(), False),
        StructField("pack_id", LongType(), False),
        StructField("doc_ids", ArrayType(LongType()), False),
        StructField("n_docs", LongType(), False),
        StructField("total_tokens", LongType(), False),
        StructField("truncated", BooleanType(), False),
    ]
)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    max_tokens: int,
    num_shards: int = 64,
) -> DataFrame:
    """Pack ``(id, token_count)`` rows into ≤ ``max_tokens`` bins.

    Returns one row per pack: (shard, pack_id, doc_ids, n_docs,
    total_tokens, truncated). ``pack_id`` is unique within a shard;
    (shard, pack_id) is the global key.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__id")
        shard = int(pdf["__shard"].iloc[0]) if len(pdf) else 0
        packs: list[tuple] = []
        cur_ids: list[int] = []
        cur_tok = 0
        for doc_id, n_tok in zip(pdf["__id"], pdf["__tok"]):
            n_tok = int(n_tok)
            if n_tok > max_tokens:
                # oversize: flush current, emit single-doc truncated pack
                if cur_ids:
                    packs.append((cur_ids, cur_tok, False))
                    cur_ids, cur_tok = [], 0
                packs.append(([int(doc_id)], n_tok, True))
                continue
            if cur_tok + n_tok > max_tokens and cur_ids:
                packs.append((cur_ids, cur_tok, False))
                cur_ids, cur_tok = [], 0
            cur_ids.append(int(doc_id))
            cur_tok += n_tok
        if cur_ids:
            packs.append((cur_ids, cur_tok, False))
        return pd.DataFrame(
            {
                "shard": [shard] * len(packs),
                "pack_id": list(range(len(packs))),
                "doc_ids": [p[0] for p in packs],
                "n_docs": [len(p[0]) for p in packs],
                "total_tokens": [p[1] for p in packs],
                "truncated": [p[2] for p in packs],
            }
        )

    prepared = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(token_count_col).cast("long").alias("__tok"),
    ).withColumn("__shard", F.pmod(F.xxhash64("__id"), F.lit(num_shards)))
    return prepared.groupBy("__shard").applyInPandas(pack_shard, PACK_SCHEMA)


def packing_efficiency(packs: DataFrame, max_tokens: int) -> DataFrame:
    """One-row fill-rate summary: how much of the token budget the
    packing actually uses (excluding oversize single-doc packs)."""
    regular = packs.filter(~F.col("truncated"))
    return regular.agg(
        F.count("*").alias("n_packs"),
        F.sum("total_tokens").alias("packed_tokens"),
        F.round(
            F.sum("total_tokens") / (F.count("*") * F.lit(max_tokens)), 4
        ).alias("fill_rate"),
    )
