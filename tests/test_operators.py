"""Unit-level checks for dedup / similarity / multimodal operators
(the rows-only extensions without a SQL oracle)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_engineering_project_spark.multimodal import (
    attach_media_metadata,
    decode_and_featurize,
    sample_frames,
)
from data_engineering_project_spark.operators import dedup, similarity
from data_engineering_project_spark.sources.parquet import read_testdata


def _docs(spark, sf_dir):
    return read_testdata(spark, sf_dir, "documents")


def test_exact_dedup_keeps_one_per_text(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # plant exact duplicates
    dupes = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dupes = docs.unionByName(dupes)
    kept = dedup.exact_dedup(with_dupes, "text", "doc_id")
    assert kept.count() == docs.select("text").distinct().count()
    # keeper is the min id → none of the planted ids survive
    assert kept.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_minhash_lsh_finds_planted_near_dupes(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # plant near-duplicates: copy 5 docs, append one token
    near = (
        docs.orderBy("doc_id").limit(5)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    )
    corpus = docs.unionByName(near)
    pairs = dedup.minhash_lsh_candidates(corpus, "text", "doc_id", num_hashes=32, bands=16)
    verified = dedup.ngram_jaccard(corpus, pairs, "text", "doc_id")
    strong = verified.filter(F.col("jaccard") > 0.8)
    found = {
        (r.id_a, r.id_b) for r in strong.collect()
    }
    planted = {(i, i + 1_000_000) for i in range(5)}
    # LSH with 16 bands of 2 rows has very high recall at jaccard>0.9
    hits = {p for p in planted if p in found}
    assert len(hits) >= 4, f"found only {hits} among {sorted(found)[:10]}"


def test_simhash_near_dupes_are_hamming_close(spark, sf_dir):
    docs = _docs(spark, sf_dir).orderBy("doc_id").limit(20)
    near = docs.withColumn("doc_id", F.col("doc_id") + 1_000_000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" extra"))
    )
    sigs = dedup.simhash(docs.unionByName(near), "text", "doc_id").collect()
    by_id = {r["doc_id"]: r["simhash"] for r in sigs}
    hammings = [
        bin((by_id[i] ^ by_id[i + 1_000_000]) & (2**64 - 1)).count("1")
        for i in range(20)
        if i in by_id and i + 1_000_000 in by_id
    ]
    assert hammings and max(hammings) <= 16  # near-dupes stay close
    far = bin((by_id[0] ^ by_id[1]) & (2**64 - 1)).count("1")
    assert far > 16  # unrelated docs are far


def test_cosine_topk_matches_numpy(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    got = similarity.cosine_topk(emb, queries, k=3).collect()

    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].map(np.asarray))
    ids = pdf["vec_id"].to_numpy()
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    for qid in range(3):
        qpos = np.where(ids == qid)[0][0]
        row = sims[qpos].copy()
        row[qpos] = -np.inf
        top = ids[np.argsort(-row)[:3]]
        got_ids = [r.neighbor_id for r in got if r.query_id == qid]
        assert set(got_ids) == set(top.tolist()), f"query {qid}"


def test_lsh_bucket_topk_recall(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    rng = np.random.RandomState(7)
    planes = rng.normal(size=(4, 64)).tolist()
    approx = similarity.lsh_bucket_topk(emb, queries, planes, k=5).collect()
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    # bucketed search trades recall for pruning; sanity: finds some of
    # the true top-k and returns ≤ k per query
    assert len(approx_pairs & exact_pairs) > 0
    per_q = {}
    for q, _ in approx_pairs:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(v <= 5 for v in per_q.values())


def test_embedding_near_dups_matches_numpy(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.embedding_near_dups(emb, threshold=0.3).collect()
    }
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].map(lambda v: np.asarray(v, dtype=np.float64)))
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids, labels = pdf["vec_id"].to_numpy(), pdf["label"].to_numpy()
    sims = normed @ normed.T
    expected = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if labels[i] == labels[j] and sims[i, j] > 0.3:
                a, b = sorted((ids[i], ids[j]))
                expected[(a, b)] = round(sims[i, j], 4)
    assert got == expected and expected  # non-trivial at threshold 0.3


def test_embedding_near_dups_block_guard(spark, sf_dir):
    """r9: bounded blocks are the operator's contract — max_block_rows
    makes it enforceable BEFORE the O(g²) stage is scheduled."""
    import pytest

    emb = read_testdata(spark, sf_dir, "embeddings")
    biggest = (
        emb.groupBy("label").count().agg(F.max("count")).collect()[0][0]
    )
    with pytest.raises(similarity.BlockSizeExceeded, match="max_block_rows"):
        similarity.embedding_near_dups(
            emb, threshold=0.3, max_block_rows=biggest - 1
        )
    ok = similarity.embedding_near_dups(
        emb, threshold=0.3, max_block_rows=biggest
    )
    assert ok.count() > 0  # sane bound: no raise, pairs still flow


def test_embedding_near_dups_total_pair_work_guard(spark, sf_dir):
    """r14: the census-wide pair-work budget trips when the summed
    C(g,2) across blocks exceeds the bound — even when every block
    respects max_block_rows — and a sane budget changes nothing."""
    import pytest

    emb = read_testdata(spark, sf_dir, "embeddings")
    sizes = [r["count"] for r in emb.groupBy("label").count().collect()]
    total_work = sum(n * (n - 1) // 2 for n in sizes)
    with pytest.raises(similarity.BlockSizeExceeded, match="max_total_pair_work"):
        similarity.embedding_near_dups(
            emb,
            threshold=0.3,
            max_block_rows=max(sizes),
            max_total_pair_work=total_work - 1,
        )
    ok = similarity.embedding_near_dups(
        emb, threshold=0.3, max_total_pair_work=total_work
    )
    assert ok.count() > 0


def test_embedding_near_dups_ann_subset_and_recall(spark, sf_dir):
    """r10 ANN path: every emitted pair is a true above-threshold pair
    (precision 1.0 by construction — cosines exact inside blocks), no
    duplicates despite multi-probe co-occurrence, and recall of the
    exact same-label pairs is substantial at a generous probe budget."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    ann = similarity.embedding_near_dups_ann(
        emb, threshold=0.3, nlist=8, n_probe=4, iters=2
    ).collect()
    pairs = [(r.id_a, r.id_b) for r in ann]
    assert len(pairs) == len(set(pairs))  # distinct collapsed multi-probe
    assert all(a < b for a, b in pairs)
    assert all(r.cosine >= 0.3 - 1e-6 for r in ann)  # rounded-to-4 outputs
    # recall vs the exact label-blocked operator (same-label pairs only)
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_dups(emb, threshold=0.3).collect()
    }
    got = set(pairs)
    assert exact  # non-trivial fixture
    assert len(exact & got) / len(exact) >= 0.5  # generous probes find most
    # spurious check: exact cosine recomputed for a sample of ANN pairs
    # is above threshold (subset-of-truth, not only same-label)
    import numpy as np

    pdf = emb.toPandas().set_index("vec_id")
    vec = {i: np.asarray(v, dtype=np.float64) for i, v in pdf["embedding"].items()}
    for a, b in pairs[:50]:
        va, vb = vec[a], vec[b]
        cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert cos > 0.3


def test_embedding_incremental_near_dups_touches_new_only(spark, sf_dir):
    """r10 incremental path: every pair touches the new batch, no
    duplicates, precision 1.0 (exact cosines inside cells), and a
    planted near-identical copy of a stored vector is found."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    stored = emb.filter(F.col("vec_id") % 4 != 0)
    # new = the rest, PLUS an exact copy of one stored vector
    dup_src = stored.orderBy("vec_id").limit(1).collect()[0]
    planted = spark.createDataFrame(
        [(9_000_000, dup_src["label"], dup_src["embedding"])],
        emb.select("vec_id", "label", "embedding").schema,
    )
    new = emb.filter(F.col("vec_id") % 4 == 0).select(
        "vec_id", "label", "embedding"
    ).unionByName(planted)
    got = similarity.embedding_near_dups_incremental(
        stored.select("vec_id", "label", "embedding"), new,
        threshold=0.3, nlist=8, n_probe=3, stored_probes=3, iters=1,
    ).collect()
    pairs = [(r.id_a, r.id_b) for r in got]
    assert len(pairs) == len(set(pairs))
    new_ids = {r["vec_id"] for r in new.select("vec_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b in pairs)
    assert all(r.cosine >= 0.3 - 1e-6 for r in got)
    # the planted exact duplicate must be recovered (cosine 1.0 pair)
    assert (min(dup_src["vec_id"], 9_000_000), 9_000_000) in set(pairs)


def test_embedding_near_dups_ann_block_guard(spark, sf_dir):
    """The ANN path inherits the fail-loudly mega-block census."""
    import pytest

    emb = read_testdata(spark, sf_dir, "embeddings")
    with pytest.raises(similarity.BlockSizeExceeded, match="max_block_rows"):
        similarity.embedding_near_dups_ann(
            emb, threshold=0.3, nlist=2, n_probe=2, iters=1, max_block_rows=3
        )


def test_ivf_topk_recall(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cents = similarity.centroids(emb)
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    # full probe == exact search (every cell searched)
    n_cells = cents.count()
    full = similarity.ivf_topk(emb, queries, cents, k=5, n_probe=n_cells).collect()
    assert {(r.query_id, r.neighbor_id) for r in full} == {
        (r.query_id, r.neighbor_id) for r in exact
    }
    # pruned probe trades recall for ~n_probe/n_cells of the work. The
    # synthetic labels are NOT trained clusters (max in-cell cosine
    # ≈0.47), so pruning here is near-random cell selection — the bound
    # just checks it beats the 3/10 random floor; real IVF recall comes
    # from a trained coarse quantizer.
    pruned = similarity.ivf_topk(emb, queries, cents, k=5, n_probe=3).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    pruned_pairs = {(r.query_id, r.neighbor_id) for r in pruned}
    recall = len(pruned_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.3, recall


def test_cosine_topk_vectorized_equals_expression_path(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    expr_path = similarity.cosine_topk(emb, queries, k=4).collect()
    vec_path = similarity.cosine_topk_vectorized(
        emb, queries.select("vec_id", "embedding").toPandas(), k=4
    ).collect()
    assert {(r.query_id, r.neighbor_id, r.cosine) for r in expr_path} == {
        (r.query_id, r.neighbor_id, r.cosine) for r in vec_path
    }


def test_ivf_with_trained_quantizer_beats_label_cells(spark, sf_dir):
    """A trained k-means coarse quantizer gives real locality; pruned
    IVF recall must beat the label-cell stand-in."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact_pairs = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }

    def recall(cents, n_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(emb, queries, cents, k=5, n_probe=n_probe).collect()
        }
        return len(got & exact_pairs) / len(exact_pairs)

    trained = similarity.kmeans_fit(emb, k=10, iters=2)
    label_cells = similarity.centroids(emb)
    r_trained = recall(trained, 3)
    r_labels = recall(label_cells, 3)
    assert r_trained > r_labels, (r_trained, r_labels)
    assert r_trained >= 0.7, r_trained


def test_centroids_shape(spark, sf_dir):
    emb = read_testdata(spark, sf_dir, "embeddings")
    cents = similarity.centroids(emb).collect()
    labels = {r.label for r in cents}
    assert labels == {r.label for r in emb.select("label").distinct().collect()}
    assert all(len(r.centroid) == 64 for r in cents)


def test_multimodal_plumbing(spark):
    rows = [
        ("m1", "image/png", bytearray(b"\x89PNG fake bytes " * 100)),
        ("m2", "audio/wav", bytearray(b"RIFF fake " * 500)),
        ("m3", "image/png", None),
    ]
    df = spark.createDataFrame(rows, "media_id string, mime string, payload binary")
    meta = attach_media_metadata(df)
    got = {r.media_id: r for r in meta.collect()}
    assert got["m1"].n_bytes == 1600
    assert got["m3"].n_bytes is None

    feats = decode_and_featurize(df, dim=8).collect()
    by_id = {r.media_id: r for r in feats}
    assert len(by_id["m1"].feature) == 8
    assert by_id["m3"].feature is None
    # deterministic: same payload → same feature
    feats2 = decode_and_featurize(df, dim=8).collect()
    assert {r.media_id: r.feature for r in feats2} == {r.media_id: r.feature for r in feats}

    frames = sample_frames(df.filter("payload is not null")).collect()
    assert {r.media_id for r in frames} == {"m1", "m2"}
    assert all(r.byte_offset == r.frame_idx * 1024 for r in frames)


def test_approx_sketches_track_exact(spark, sf_dir):
    """HLL++ distinct counts within rsd bounds and approx percentiles
    within the accuracy parameter's rank error vs exact answers."""
    from data_engineering_project_spark.plans import workload

    ev = workload.load(spark, sf_dir, "events")
    approx = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
            F.percentile_approx("value", [0.5, 0.95], 10000).alias("value_p50_p95"),
        )
        .collect()
    }
    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, array(0.5, 0.95))").alias("ps"),
        )
        .collect()
    }
    for et, ex in exact.items():
        ap = approx[et]
        assert abs(ap.approx_users - ex.users) <= max(3, 0.05 * ex.users), (
            f"{et}: HLL {ap.approx_users} vs exact {ex.users}"
        )
        for a, e in zip(ap.value_p50_p95, ex.ps):
            assert abs(a - e) <= 0.1 * max(1.0, abs(e)), f"{et}: {a} vs {e}"

    # the registered query asserts the same bounds in-plan (its oracle
    # hash-matches only when every bound held) — all flags must be true
    for r in workload.QUERIES["events_reach_approx"](spark, sf_dir).collect():
        assert (
            r.hll_within_3rsd and r.p50_within_rank_bounds and r.p95_within_rank_bounds
        ), f"{r.event_type}: bound flags {r}"


def test_dup_clusters_connected_components(spark):
    """Chains, separate components, and transitive closure: A-B, B-C
    form one cluster keyed by the min id; isolated pair is its own."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 9: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }


def test_dup_clusters_on_lsh_output(spark, sf_dir):
    """End-to-end: planted near-dup pairs collapse into clusters whose
    keeper is the original (minimum) doc id."""
    docs = _docs(spark, sf_dir)
    near = (
        docs.orderBy("doc_id").limit(3)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    )
    corpus = docs.unionByName(near)
    pairs = dedup.minhash_lsh_candidates(corpus, "text", "doc_id", num_hashes=32, bands=16)
    verified = dedup.ngram_jaccard(corpus, pairs, "text", "doc_id").filter(
        F.col("jaccard") > 0.8
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    clusters = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(verified).collect()}
    for i in range(3):
        if i + 1_000_000 in clusters:
            assert clusters[i + 1_000_000] == clusters.get(i, i)
    # the driver union-find and label propagation agree on real LSH output
    assert clusters
    assert clusters == {
        r.doc_id: r.cluster_id for r in dedup._propagate_labels(verified, 20).collect()
    }


def _labels(frame):
    return {r.doc_id: r.cluster_id for r in frame.collect()}


def _random_pairs(spark, seed, n_nodes, n_edges):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, n_nodes, n_edges)
    b = rng.integers(0, n_nodes, n_edges)
    edges = {(int(min(x, y)), int(max(x, y))) for x, y in zip(a, b) if x != y}
    return spark.createDataFrame(sorted(edges), "id_a long, id_b long")


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_dup_clusters_union_find_matches_propagation(spark, seed):
    """Sparse random graphs (many small components, some chains): the
    driver union-find labels equal the label-propagation labels."""
    pairs = _random_pairs(spark, seed, 120, 70).localCheckpoint(eager=True)
    got = dedup.dup_clusters(pairs)
    assert got.columns == ["doc_id", "cluster_id"]
    assert got.schema["doc_id"].dataType.simpleString() == "bigint"
    assert _labels(got) == _labels(dedup._propagate_labels(pairs, 40))


def test_dup_clusters_routes_to_propagation_above_budget(spark, monkeypatch):
    """Over MAX_DRIVER_EDGES the distributed path runs, with the same
    answer; at or under it the union-find answers alone."""
    pairs = _random_pairs(spark, 4, 60, 30).localCheckpoint(eager=True)
    n_edges = pairs.count()
    calls = []
    real = dedup._propagate_labels

    def spy(p, max_iter):
        calls.append(max_iter)
        return real(p, max_iter)

    monkeypatch.setattr(dedup, "_propagate_labels", spy)
    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", n_edges)
    small = _labels(dedup.dup_clusters(pairs))
    assert calls == []
    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", n_edges - 1)
    large = _labels(dedup.dup_clusters(pairs))
    assert calls == [20]
    assert large == small


def test_dup_clusters_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = dedup.dup_clusters(pairs)
    assert got.collect() == []
    assert got.columns == ["doc_id", "cluster_id"]


def test_dup_clusters_unconverged_propagation_raises(spark, monkeypatch):
    """A 30-node path needs more rounds than max_iter=20 allows: the
    propagation path raises instead of returning labels in which a
    far node keeps a non-minimum id; the union-find is exact."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "id_a long, id_b long"
    ).localCheckpoint(eager=True)
    assert set(_labels(dedup.dup_clusters(pairs)).values()) == {0}
    monkeypatch.setattr(dedup, "MAX_DRIVER_EDGES", 0)
    with pytest.raises(ValueError, match=r"max_iter=20.*provisional components"):
        dedup.dup_clusters(pairs)


def test_winnow_planted_near_dupes_share_fingerprints(spark, sf_dir):
    """A copy with a small edit shares most winnowing fingerprints with
    its source; the pair surfaces above min_shared while unrelated docs
    (mostly) don't pair at that threshold."""
    docs = _docs(spark, sf_dir)
    near = (
        docs.orderBy("doc_id").limit(5)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra tail")))
    )
    corpus = docs.unionByName(near)
    pairs = dedup.winnow_overlap_pairs(
        corpus, "text", "doc_id", min_shared=5, max_df=20
    )
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    planted = {(i, i + 1_000_000) for i in range(5)}
    hits = {p for p in planted if p in found}
    assert len(hits) >= 4, f"found only {hits}"


def test_winnow_fingerprints_robust_to_position_shift(spark):
    """Winnowing guarantee: content shifted by a prefix still shares
    nearly all fingerprints (rolling k-grams realign, unlike a whole-doc
    hash)."""
    body = "the quick brown fox jumps over the lazy dog " * 10
    df = spark.createDataFrame(
        [(1, body), (2, "PREFIX>> " + body)], ["doc_id", "text"]
    )
    fp = {
        r.doc_id: set(r.fingerprints)
        for r in dedup.winnow_fingerprints(df, "text", "doc_id").collect()
    }
    shared = len(fp[1] & fp[2]) / len(fp[1] | fp[2])
    assert shared > 0.8, f"jaccard of fingerprint sets only {shared}"


def test_cross_split_contamination_planted(spark):
    """A test-split doc sharing >=3 shingles with a train doc is
    flagged with the right pair; disjoint docs are not."""
    from data_engineering_project_spark.operators import dedup as dd

    rows = [
        (1, "train", "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "test", "alpha beta gamma delta epsilon zeta nine ten"),
        (3, "test", "completely different words sharing nothing with anyone"),
        (4, "train", "another unrelated training document entirely made up"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, split string, text string")
    out = dd.cross_split_contamination(df, "text", "doc_id", min_shared=3)
    pairs = {(r.test_doc, r.train_doc): r.n_shared for r in out.collect()}
    assert pairs == {(2, 1): 4}


def test_incremental_lsh_equals_full_rebuild(spark, sf_dir):
    """The increment path (new band rows vs stored index) finds exactly
    the full rebuild's candidate pairs that involve a new doc."""
    from data_engineering_project_spark.operators import sampling

    docs = read_testdata(spark, sf_dir, "documents")
    is_new = sampling.hash_bucket("doc_id") < F.lit("40")
    new_docs, old_docs = docs.filter(is_new), docs.filter(~is_new)
    new_ids = {r.doc_id for r in new_docs.select("doc_id").collect()}
    assert new_ids and old_docs.count() > 0

    index = dedup.lsh_band_rows_portable(old_docs, "text", "doc_id", 32, 4)
    new_rows = dedup.lsh_band_rows_portable(new_docs, "text", "doc_id", 32, 4)
    incr = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidates_incremental(new_rows, index).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidates_portable(docs, "text", "doc_id", 32, 4).collect()
    }
    full_touching_new = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert incr == full_touching_new


def test_hll_sketch_rollup_partitioning_invariant(spark, sf_dir):
    """The persisted HLL sketch column merges identically under any
    partitioning (register maxima are commutative): monthly estimates
    from 4-partition and 32-partition daily rollups are equal, and the
    registered query's bound flags all hold."""
    from data_engineering_project_spark.plans import workload

    ev = read_testdata(spark, sf_dir, "events")

    def monthly(df):
        daily = df.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.hll_sketch_agg("user_id", 14).alias("sk")
        )
        return {
            (r.period, r.event_type): r.est
            for r in daily.groupBy(
                F.date_format("day", "yyyy-MM").alias("period"), "event_type"
            )
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
            .collect()
        }

    assert monthly(ev.repartition(4)) == monthly(ev.repartition(32))

    for r in workload.QUERIES["reach_rollup_sketch"](spark, sf_dir).collect():
        assert r.rollup_within_5pct, r


def test_kmeans_fit_retains_empty_cells(spark):
    """Lloyd empty-cluster fallback (round-7): duplicate init vectors
    make one cell lose every vector to its twin by tiebreak in the
    first pass — the fit must still return exactly k centroids, with
    the emptied cell carrying its init centroid forward."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),       # identical to vec 0 -> cell 1 empties
        (2, [0.0, 1.0]),
        (3, [0.9, 0.1]),
        (4, [0.1, 0.9]),
        (5, [0.95, 0.05]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_fit(emb, k=3, iters=2).collect()
    assert sorted(r.label for r in cents) == [0, 1, 2]
    by_label = {r.label: list(r.centroid) for r in cents}
    # the emptied cell keeps its (init) centroid instead of vanishing
    assert by_label[1] == [1.0, 0.0]



def test_probe_assignments_matches_window_rank_form(spark, sf_dir):
    """r13: the map-side literal-centroid probe (reverse(array_sort)
    slice) selects exactly what the broadcast-join + row_number window
    form selected — same (sim DESC, cell ASC) order, same sims (shared
    zip_with/fold arithmetic), at n_probe below, at, and above k."""
    from pyspark.sql import Window

    emb = read_testdata(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(emb, k=8, iters=1)

    def probe_window(queries, n_probe):
        q = queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
        )
        scored = q.join(
            F.broadcast(
                cents.select(F.col("label").alias("cell"), "centroid")
            )
        ).select(
            "query_id",
            "q_vec",
            "cell",
            similarity.cosine_similarity(
                F.col("q_vec"), F.col("centroid")
            ).alias("sim"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("cell")
        )
        return (
            scored.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= n_probe)
            .select("query_id", "q_vec", "cell")
        )

    for n_probe in (1, 3, 9):
        old = sorted(
            (r["query_id"], r["cell"])
            for r in probe_window(emb, n_probe).collect()
        )
        new = sorted(
            (r["query_id"], r["cell"])
            for r in similarity.probe_assignments(
                emb, cents, n_probe=n_probe
            ).collect()
        )
        assert old == new


def test_literal_centroid_argmax_bounded_in_k(spark):
    """The inlined-centroid argmax refuses k past MAX_LITERAL_CENTROIDS
    (its analyzer cost is super-linear in k), naming k; at the bound it
    still builds, and the assignment operators fail loudly the same way."""
    bound = similarity.MAX_LITERAL_CENTROIDS
    rows = [{"label": i, "centroid": [float(i), 1.0]} for i in range(bound + 1)]
    norm_sql, argmax_sql = similarity._argmax_cell_exprs(rows[:bound], "v")
    assert argmax_sql.count("struct(") == bound
    with pytest.raises(ValueError, match=f"k={bound + 1} .*MAX_LITERAL_CENTROIDS={bound}"):
        similarity._argmax_cell_exprs(rows, "v")
    corpus = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=f"k={bound + 1}"):
        similarity._assign_cells_rows(corpus, rows)
