"""End-to-end corpus preparation pipeline — the composition a training
team actually runs, wired from this engine's operators:

    raw documents
      → PII redaction                  (operators/pii.py)
      → exact dedup                    (operators/dedup.exact_dedup_groups)
      → near-dup removal (MinHash-LSH candidates → cluster keep-list)
      → quality + repetition filter    (functions/text.quality_score,
                                        operators/quality_rules)
      → deterministic train/val split  (operators/sampling.hash_split)
      → sequence packing of the train split (operators/packing)

Each funnel boundary is materialized once, with ``localCheckpoint``,
and its row counts are read through ``DataFrame.observe`` on that same
action — no ``count()`` re-runs the lineage above a boundary:

1. the exact-dedup groups (md5 hash → keeper id, copy count) give
   ``raw`` (sum of copies) and ``after_exact_dedup`` (group count);
2. the near-deduped rows, tagged with the quality flag and the split
   column, give ``after_near_dedup``, ``after_quality``, ``train`` and
   ``val``;
3. the packed train split gives ``train_packs`` (``(shard, pack_id)``
   is unique, so its row count is the pack count).

The near-dup clustering between 1 and 2 collects its (small) edge list
once; see :func:`~data_engineering_project_spark.operators.dedup.dup_clusters`.
Within a boundary the stages are lazy-on-lazy composition, so Catalyst
fuses the row-local ones.

Scale: the only stateful stages are the dedup shuffles (hash/band
keys, never text) and the packer's hash-sharded applyInPandas; all
filters are row-local. Stage order puts the cheapest row-droppers
(exact dedup) before the near-dup join so the LSH input is already
thinned.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.text import quality_score
from data_engineering_project_spark.operators import dedup, packing, pii
from data_engineering_project_spark.operators.joins import anti_join
from data_engineering_project_spark.operators.sampling import hash_split


@dataclass(frozen=True)
class CorpusPrepResult:
    train_packed: DataFrame
    val: DataFrame
    funnel: dict[str, int]


def _observed(df: DataFrame, name: str, *metrics) -> tuple[DataFrame, dict]:
    """Checkpoint ``df`` eagerly and return it with the ``metrics``
    observed during that one action (nulls — sums over no rows — as 0)."""
    obs = Observation(name)
    ck = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return ck, {k: v or 0 for k, v in obs.get.items()}


def prepare_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    val_fraction: float = 0.1,
    pack_budget: int = 256,
    num_hashes: int = 16,
    bands: int = 4,
) -> CorpusPrepResult:
    """Run the full prep funnel; returns packed train, val, and the
    per-stage surviving-row counts."""
    # 1. PII scrub (row-local, no row drops)
    clean = docs.withColumn(text_col, pii.redact(F.col(text_col)))

    # 2. exact dedup (md5 groups, keep min id) — boundary 1
    groups, m = _observed(
        dedup.exact_dedup_groups(clean, text_col, id_col),
        "corpus_exact",
        F.sum("n_copies").alias("raw"),
        F.count(F.lit(1)).alias("after_exact_dedup"),
    )
    funnel: dict[str, int] = dict(m)
    keepers = groups.select(F.col(f"keeper_{id_col}").alias(id_col))
    exact = clean.join(keepers, id_col, "left_semi")

    # 3. near-dup: LSH candidates -> connected clusters -> keep the
    #    min-id representative of every cluster
    pairs = dedup.lsh_candidates_portable(
        exact, text_col, id_col, num_hashes=num_hashes, bands=bands
    )
    clusters = dedup.dup_clusters(pairs)  # columns: doc_id, cluster_id
    drop = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias(id_col))
    neardeduped = anti_join(exact, drop, [id_col], broadcast_right=True)

    # 4. quality gate (C4/Gopher-style composite score) and 5.
    #    deterministic split (md5 buckets — retry- and cluster-stable),
    #    both as columns of one frame — boundary 2
    ok = "__quality_ok"
    splits = {"val": val_fraction, "train": 1.0 - val_fraction}
    flagged = neardeduped.withColumn(
        ok, quality_score(text_col) >= F.lit(min_quality)
    )
    is_train = F.col(ok) & (F.col("split") == "train")
    is_val = F.col(ok) & (F.col("split") == "val")
    tagged, m = _observed(
        hash_split(flagged, id_col, splits),
        "corpus_split",
        F.count(F.lit(1)).alias("after_near_dedup"),
        F.count_if(F.col(ok)).alias("after_quality"),
        F.count_if(is_train).alias("train"),
        F.count_if(is_val).alias("val"),
    )
    funnel.update(m)
    train = tagged.filter(is_train).drop(ok)
    val = tagged.filter(is_val).drop(ok)

    # 6. pack the train split into fixed token budgets — boundary 3
    with_len = train.withColumn(
        "n_tokens", F.size(F.split(F.col(text_col), " "))
    )
    packed, m = _observed(
        packing.pack_sequences(
            with_len,
            id_col=id_col,
            token_count_col="n_tokens",
            max_tokens=pack_budget,
        ),
        "corpus_packs",
        F.count(F.lit(1)).alias("train_packs"),
    )
    funnel.update(m)
    return CorpusPrepResult(train_packed=packed, val=val, funnel=funnel)
