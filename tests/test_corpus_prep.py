"""End-to-end corpus-prep pipeline: the full funnel on a corpus with
planted exact dups, near dups, PII, and junk quality."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from data_engineering_project_spark.functions.text import quality_score
from data_engineering_project_spark.operators import dedup, packing, pii
from data_engineering_project_spark.operators.joins import anti_join
from data_engineering_project_spark.operators.packing import PACK_SCHEMA
from data_engineering_project_spark.operators.sampling import hash_split
from data_engineering_project_spark.plans.corpus_prep import prepare_corpus

_group_ids = itertools.count()


def _base_text(i: int) -> str:
    # disjoint vocabularies: doc i shares no shingles with doc j != i
    return " ".join(f"word{i}x{j}" for j in range(20))


def _docs(spark):
    rows = []
    # 20 genuinely distinct good docs (no shared shingles)
    for i in range(20):
        rows.append((i, _base_text(i), "en", "s", 1))
    # exact duplicates of doc 0
    rows.append((100, _base_text(0), "en", "s", 1))
    rows.append((101, _base_text(0), "en", "s", 1))
    # near duplicate of doc 1: last word changed => ~90% shingle overlap
    near = _base_text(1).rsplit(" ", 1)[0] + " changedword"
    rows.append((102, near, "en", "s", 1))
    # junk: too short AND fully repetitive -> fails length + TTR rules
    rows.append((103, "junk junk junk junk", "en", "s", 1))
    # PII: doc with an email that must be redacted, otherwise good
    rows.append((104, _base_text(21) + " mail me a@b.co today ok", "en", "s", 1))
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_full_funnel_drops_the_planted_problems(spark):
    res = prepare_corpus(
        _docs(spark),
        min_quality=0.5,
        val_fraction=0.2,
        pack_budget=64,
    )
    f = res.funnel
    assert f["raw"] == 25
    # two exact copies of doc 0 die (keeper = min id 0)
    assert f["after_exact_dedup"] == 23
    # the near-dup of doc 1 dies; everything else survives
    assert f["after_near_dedup"] == 22
    # junk doc dies at the quality gate
    assert f["after_quality"] == 21
    assert f["train"] + f["val"] == f["after_quality"]
    assert f["train_packs"] >= 1

    # PII was scrubbed before anything downstream saw the text
    val_texts = [r["text"] for r in res.val.collect()]
    train_ids = {
        i for r in res.train_packed.collect() for i in r["doc_ids"]
    }
    assert all("a@b.co" not in t for t in val_texts)
    # packed train + val exactly partition the surviving docs
    val_ids = {r["doc_id"] for r in res.val.collect()}
    assert len(train_ids) + len(val_ids) == f["after_quality"]
    assert not (train_ids & val_ids)


def test_funnel_is_deterministic_across_runs(spark):
    a = prepare_corpus(_docs(spark), pack_budget=64).funnel
    b = prepare_corpus(_docs(spark), pack_budget=64).funnel
    assert a == b


def _reference_prepare(
    docs,
    text_col="text",
    id_col="doc_id",
    min_quality=0.5,
    val_fraction=0.1,
    pack_budget=256,
    num_hashes=16,
    bands=4,
):
    """The funnel as first composed: one ``count()`` per stage, with
    near-dup clusters from distributed label propagation. The one-pass
    ``prepare_corpus`` must reproduce its funnel, packs and val rows."""
    funnel = {"raw": docs.count()}
    clean = docs.withColumn(text_col, pii.redact(F.col(text_col)))
    exact = dedup.exact_dedup(clean, text_col, id_col)
    funnel["after_exact_dedup"] = exact.count()
    pairs = dedup.lsh_candidates_portable(
        exact, text_col, id_col, num_hashes=num_hashes, bands=bands
    )
    clusters = dedup._propagate_labels(pairs, 20)
    drop = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias(id_col))
    neardeduped = anti_join(exact, drop, [id_col], broadcast_right=True)
    funnel["after_near_dedup"] = neardeduped.count()
    quality = neardeduped.filter(quality_score(text_col) >= F.lit(min_quality))
    funnel["after_quality"] = quality.count()
    splits = {"val": val_fraction, "train": 1.0 - val_fraction}
    tagged = hash_split(quality, id_col, splits)
    train = tagged.filter(F.col("split") == "train")
    val = tagged.filter(F.col("split") == "val")
    funnel["train"] = train.count()
    funnel["val"] = val.count()
    with_len = train.withColumn("n_tokens", F.size(F.split(F.col(text_col), " ")))
    packed = packing.pack_sequences(
        with_len, id_col=id_col, token_count_col="n_tokens", max_tokens=pack_budget
    )
    funnel["train_packs"] = packed.select("shard", "pack_id").distinct().count()
    return packed, val, funnel


def _planted_corpus(spark):
    """80 distinct docs plus exact copies, one-token near copies, a
    near-dup chain (each link one more token edited), junk and PII;
    copies sometimes take the lower id."""
    rows = [(i * 3, _base_text(i)) for i in range(80)]
    for k in range(8):
        rows.append((1000 + k, _base_text(k)))
    for k in range(8, 16):
        toks = _base_text(k).split(" ")
        toks[k] = "edited"
        rows.append((k * 3 - 1 if k % 2 else 2000 + k, " ".join(toks)))
    chain = _base_text(200).split(" ")
    for link in range(8):
        chain[link * 2] = f"chain{link}"
        rows.append((3000 + link, " ".join(chain)))
    for j in range(5):
        rows.append((4000 + j, " ".join([f"junk{j}"] * 6)))
    rows.append((5000, _base_text(300) + " write to x.y@example.org now"))
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def _outputs(packed, val):
    packs = sorted(
        (r.shard, r.pack_id, tuple(r.doc_ids), r.n_docs, r.total_tokens, r.truncated)
        for r in packed.collect()
    )
    return packs, sorted(tuple(r) for r in val.collect())


def test_one_pass_funnel_equals_count_per_stage_reference(spark):
    for docs, kw in (
        (_docs(spark), dict(min_quality=0.5, val_fraction=0.2, pack_budget=64)),
        (_planted_corpus(spark), dict(val_fraction=0.25, pack_budget=96)),
    ):
        ref_packed, ref_val, ref_funnel = _reference_prepare(docs, **kw)
        res = prepare_corpus(docs, **kw)
        assert res.funnel == ref_funnel
        assert res.train_packed.schema == ref_packed.schema
        assert res.train_packed.columns == PACK_SCHEMA.fieldNames()
        assert res.val.columns == ref_val.columns
        assert _outputs(res.train_packed, res.val) == _outputs(ref_packed, ref_val)
        assert res.funnel["val"] == len(res.val.collect())


def test_planted_corpus_funnel_drops_copies_and_chain(spark):
    f = prepare_corpus(_planted_corpus(spark), val_fraction=0.25, pack_budget=96).funnel
    assert f["raw"] == 80 + 8 + 8 + 8 + 5 + 1
    assert f["after_exact_dedup"] == f["raw"] - 8
    assert f["after_near_dedup"] < f["after_exact_dedup"]
    assert f["after_quality"] == f["after_near_dedup"] - 5
    assert f["train"] + f["val"] == f["after_quality"]


def _jobs_of(spark, action):
    sc = spark.sparkContext
    group = f"corpus-prep-test-{next(_group_ids)}"
    sc.setJobGroup(group, "corpus prep test")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_prepare_and_collect_run_a_bounded_number_of_jobs(spark):
    """One materialization per funnel boundary: preparing the corpus and
    collecting packs and val stays within 16 Spark jobs (the count per
    stage composition ran about 58)."""
    docs = _planted_corpus(spark).localCheckpoint(eager=True)

    def run():
        res = prepare_corpus(docs, val_fraction=0.25, pack_budget=96)
        res.train_packed.collect()
        res.val.collect()

    assert _jobs_of(spark, run) <= 16


def test_empty_corpus_funnel_is_zero(spark):
    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    res = prepare_corpus(empty)
    assert res.funnel == {
        k: 0
        for k in (
            "raw", "after_exact_dedup", "after_near_dedup", "after_quality",
            "train", "val", "train_packs",
        )
    }
    assert res.train_packed.collect() == []
    assert res.val.collect() == []
