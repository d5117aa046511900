"""Sequence packing: budget respected, every doc packed exactly once,
deterministic across re-runs and input partitioning, oversize flagged."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_project_spark.functions.text import token_count
from data_engineering_project_spark.operators import packing
from data_engineering_project_spark.sources.parquet import read_testdata

BUDGET = 256


def _docs(spark, sf_dir):
    return read_testdata(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tok")
    )


def test_budget_respected_and_total_conserved(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    packs = packing.pack_sequences(docs, "doc_id", "n_tok", BUDGET, num_shards=8)
    rows = packs.collect()
    assert rows
    for r in rows:
        if not r.truncated:
            assert r.total_tokens <= BUDGET
        assert r.n_docs == len(r.doc_ids)
    # every document appears in exactly one pack
    packed_ids = sorted(i for r in rows for i in r.doc_ids)
    source_ids = sorted(r.doc_id for r in docs.collect())
    assert packed_ids == source_ids
    # token mass conserved
    assert sum(r.total_tokens for r in rows) == docs.agg(F.sum("n_tok")).collect()[0][0]


def test_deterministic_under_input_partitioning(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = packing.pack_sequences(docs, "doc_id", "n_tok", BUDGET, num_shards=8)
    b = packing.pack_sequences(
        docs.repartition(13), "doc_id", "n_tok", BUDGET, num_shards=8
    )
    ka = sorted((r.shard, r.pack_id, tuple(r.doc_ids)) for r in a.collect())
    kb = sorted((r.shard, r.pack_id, tuple(r.doc_ids)) for r in b.collect())
    assert ka == kb


def test_oversize_docs_flagged_not_dropped(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 999), (3, 50)], "doc_id long, n_tok long"
    )
    packs = packing.pack_sequences(df, "doc_id", "n_tok", 200, num_shards=1)
    rows = {tuple(r.doc_ids): r for r in packs.collect()}
    assert (2,) in rows and rows[(2,)].truncated
    assert sorted(i for ids in rows for i in ids) == [1, 2, 3]


def test_fill_rate_is_high_when_docs_are_small(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    packs = packing.pack_sequences(docs, "doc_id", "n_tok", 2048, num_shards=4)
    eff = packing.packing_efficiency(packs, 2048).collect()[0]
    assert eff.fill_rate > 0.8, f"next-fit fill rate too low: {eff.fill_rate}"


def test_pack_then_export_jsonl_shards(spark, sf_dir, tmp_path):
    """Composition the training-data path actually runs: token-count →
    pack into budgets → export newline-JSON sharded by pack shard (the
    interchange hop to a tokenizer job that doesn't read parquet)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        LongType,
        StructField,
        StructType,
    )

    from data_engineering_project_spark.functions.text import token_count
    from data_engineering_project_spark.operators.packing import pack_sequences
    from data_engineering_project_spark.sources import json_lines
    from data_engineering_project_spark.sources.parquet import read_testdata

    docs = read_testdata(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tok")
    )
    packed = pack_sequences(docs, "doc_id", "n_tok", max_tokens=512, num_shards=4)
    out = str(tmp_path / "packs")
    json_lines.write_jsonl(packed, out, partition_by=["shard"])

    schema = StructType(
        [
            StructField("pack_id", LongType()),
            StructField("doc_ids", ArrayType(LongType())),
            StructField("n_docs", LongType()),
            StructField("total_tokens", LongType()),
            StructField("truncated", BooleanType()),
        ]
    )
    back = spark.read.schema(
        StructType(list(schema.fields)).add("shard", "integer")
    ).json(out)
    # every doc packed exactly once, budgets respected on the round trip
    n_docs_in = docs.count()
    exploded = back.select(F.explode("doc_ids").alias("doc_id"))
    assert exploded.count() == n_docs_in
    assert exploded.distinct().count() == n_docs_in
    assert back.filter(
        (F.col("total_tokens") > 512) & (~F.col("truncated"))
    ).count() == 0


def _next_fit_reference(docs, budget):
    """The packer's greedy next-fit loop as first written (copying the
    id list on every document): the reference the in-place append must
    reproduce pack for pack."""
    packs, cur_ids, cur_tok = [], [], 0
    for doc_id, n_tok in sorted(docs):
        if n_tok > budget:
            if cur_ids:
                packs.append((cur_ids, cur_tok, False))
                cur_ids, cur_tok = [], 0
            packs.append(([doc_id], n_tok, True))
            continue
        if cur_tok + n_tok > budget and cur_ids:
            packs.append((cur_ids, cur_tok, False))
            cur_ids, cur_tok = [], 0
        cur_ids = cur_ids + [doc_id]
        cur_tok += n_tok
    if cur_ids:
        packs.append((cur_ids, cur_tok, False))
    return packs


def test_packs_identical_to_copying_reference(spark):
    """Fixed input, one shard: every pack (ids, tokens, truncated flag)
    equals the reference loop's, in order — a flush must never leave
    the next pack aliasing the previous pack's id list."""
    docs = [(i, (i * 37) % 90 + 5) for i in range(200)] + [(500, 300), (501, 120)]
    df = spark.createDataFrame(docs, "doc_id long, n_tok long")
    got = packing.pack_sequences(df, "doc_id", "n_tok", 120, num_shards=1).orderBy("pack_id").collect()
    want = _next_fit_reference(docs, 120)
    assert [(list(r.doc_ids), r.total_tokens, r.truncated) for r in got] == want
    assert [r.pack_id for r in got] == list(range(len(want)))


def test_multi_shard_packs_are_next_fit_per_hash_shard(spark):
    """Shard membership is ``pmod(xxhash64(id), num_shards)`` and each
    shard is packed next-fit in id order, however Spark partitions the
    grouped map: every shard's packs equal the reference loop's."""
    docs = [(i * 7 + 3, (i * 53) % 110 + 1) for i in range(300)]
    df = spark.createDataFrame(docs, "doc_id long, n_tok long").repartition(5)
    shard_of = {
        r.doc_id: r.shard
        for r in df.select(
            "doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("shard")
        ).collect()
    }
    got = packing.pack_sequences(df, "doc_id", "n_tok", 100, num_shards=8).collect()
    want = []
    for shard in sorted(set(shard_of.values())):
        member = [d for d in docs if shard_of[d[0]] == shard]
        for pack_id, (ids, tok, trunc) in enumerate(_next_fit_reference(member, 100)):
            want.append((shard, pack_id, ids, len(ids), tok, trunc))
    assert sorted(
        (r.shard, r.pack_id, list(r.doc_ids), r.n_docs, r.total_tokens, r.truncated)
        for r in got
    ) == sorted(want)
