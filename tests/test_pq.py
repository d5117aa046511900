"""Product quantization (operators/pq.py): encode shape, planted-dup
retrieval through ADC, above-chance recall, reconstruction error vs
the trivial quantizer, and encode determinism.

The synthetic embeddings are near-random — PQ's worst case — so the
recall bound is deliberately loose (chance overlap for top-10 of ~500
is ~0.02; measured 0.28-0.61 across m/k settings); the sharp checks
are the planted duplicate (identical vector → identical codes →
identical ADC score, must surface in the top-k) and the quantizer
beating the global-mean reconstruction.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_engineering_project_spark.operators import pq
from data_engineering_project_spark.plans import workload

M_SUB, K_SUB = 8, 16


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return workload.load(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def books(emb):
    return pq.pq_train(emb, m=M_SUB, k=K_SUB, iters=2)


@pytest.fixture(scope="module")
def encoded(emb, books):
    return pq.pq_encode(emb, books).localCheckpoint(eager=True)


def test_encode_shape_and_code_range(emb, encoded):
    rows = encoded.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r["codes"]) == M_SUB
        assert all(0 <= c < K_SUB for c in r["codes"])


def test_encode_is_deterministic(emb, books, encoded):
    again = {
        r["vec_id"]: list(r["codes"])
        for r in pq.pq_encode(emb, books).collect()
    }
    first = {r["vec_id"]: list(r["codes"]) for r in encoded.collect()}
    assert first == again


def test_planted_duplicate_surfaces_through_adc(spark, emb, books, encoded):
    v0 = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    planted = spark.createDataFrame(
        [(10_000_000, list(v0))], "vec_id long, embedding array<float>"
    )
    enc_all = encoded.unionByName(pq.pq_encode(planted, books))
    qp = (
        emb.filter(F.col("vec_id") == 0)
        .select("vec_id", "embedding")
        .toPandas()
    )
    hits = pq.pq_adc_topk(enc_all, books, qp, k=10).collect()
    assert 10_000_000 in {r["neighbor_id"] for r in hits}
    # the duplicate's codes are identical, so its ADC score ties the
    # maximum over all rows sharing those codes
    top = max(r["adc_ip"] for r in hits)
    planted_score = [
        r["adc_ip"] for r in hits if r["neighbor_id"] == 10_000_000
    ][0]
    assert planted_score == pytest.approx(top, abs=1e-9)


def test_adc_recall_beats_chance(emb, books, encoded):
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.array([list(v) for v in pdf["embedding"]], dtype=float)
    qp = (
        emb.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .toPandas()
    )
    topk = pq.pq_adc_topk(encoded, books, qp, k=10).collect()
    hits = 0
    for q in qp.itertuples(index=False):
        qv = np.array(list(q.embedding), dtype=float)
        ips = mat @ qv
        mask = ids != q.vec_id
        exact = {
            int(i)
            for _, i in sorted(zip(-ips[mask], ids[mask]))[:10]
        }
        got = {
            r["neighbor_id"] for r in topk if r["query_id"] == q.vec_id
        }
        hits += len(exact & got)
    recall = hits / (10 * len(qp))
    assert recall >= 0.15  # chance is ~0.02 on this corpus


def test_reconstruction_beats_global_mean(emb, books, encoded):
    pdf = emb.select("vec_id", "embedding").toPandas()
    mat = np.array([list(v) for v in pdf["embedding"]], dtype=float)
    by_id = {int(i): mat[n] for n, i in enumerate(pdf["vec_id"])}
    # keyed by label value, not sorted position — kmeans_fit may drop
    # an emptied cell, leaving a label gap (see pq_adc_topk docstring)
    book_maps = [
        {
            int(r["label"]): np.array([float(x) for x in r["centroid"]])
            for r in b.collect()
        }
        for b in books
    ]
    d = len(next(iter(book_maps[0].values())))
    sq_err = 0.0
    for r in encoded.collect():
        v = by_id[r["vec_id"]]
        recon = np.concatenate(
            [book_maps[j][c] for j, c in enumerate(r["codes"])]
        )
        sq_err += float(((v - recon) ** 2).sum())
    mean_vec = mat.mean(axis=0)
    trivial = float(((mat - mean_vec) ** 2).sum())
    assert sq_err < trivial
    # and the compressed representation really is m small codes
    assert M_SUB * np.ceil(np.log2(K_SUB)) / 8 < 4 * d * M_SUB


def test_adc_correct_with_noncontiguous_codebook_labels(spark):
    """Regression (round-6 ADVICE): kmeans_fit's Lloyd update drops
    cells that empty mid-fit, so a codebook can carry a label gap
    (e.g. {0, 1, 3}). ADC lookup tables must be keyed by label VALUE —
    a positional (sorted-order) table silently reads the wrong
    codeword for every code above the gap and indexes past the array
    for the max label. Hand-built gapped codebooks, scores checked
    against the numpy reconstruction inner product."""
    books = [
        spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (3, [2.0, 2.0])],
            "label int, centroid array<double>",
        ),
        spark.createDataFrame(
            [(0, [1.0, 1.0]), (2, [3.0, -1.0])],
            "label int, centroid array<double>",
        ),
    ]
    corpus = spark.createDataFrame(
        [
            (1, [0.9, 0.1, 1.1, 0.8]),   # codes (0, 0)
            (2, [2.1, 1.9, 2.9, -1.2]),  # codes (3, 2) — both above a gap
            (3, [0.1, 1.2, 3.1, -0.9]),  # codes (1, 2)
        ],
        "vec_id long, embedding array<float>",
    )
    enc = pq.pq_encode(corpus, books)
    codes = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    assert codes == {1: [0, 0], 2: [3, 2], 3: [1, 2]}
    book_maps = [
        {int(r["label"]): np.array(r["centroid"]) for r in b.collect()}
        for b in books
    ]
    qp = spark.createDataFrame(
        [(99, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<float>",
    ).toPandas()
    got = {
        r["neighbor_id"]: r["adc_ip"]
        for r in pq.pq_adc_topk(enc, books, qp, k=3).collect()
    }
    qv = np.array([1.0, 2.0, 3.0, 4.0])
    for vid, (c0, c1) in codes.items():
        recon = np.concatenate([book_maps[0][c0], book_maps[1][c1]])
        assert got[vid] == pytest.approx(float(qv @ recon), abs=1e-6)


def test_ivfpq_composition_finds_planted_duplicate(
    spark, sf_dir, emb, books, encoded
):
    """The standard IVFPQ pipeline: IVF probe prunes the cells a query
    touches, ADC ranks only the surviving (compressed) rows. A planted
    exact duplicate must survive both stages: it lands in the query's
    own cell and its identical codes tie the top ADC score."""
    from data_engineering_project_spark.operators import similarity

    cents = similarity.kmeans_fit(emb, k=8, iters=2)
    cells = similarity.assign_cells(emb, cents)
    planted_vec = emb.filter(F.col("vec_id") == 0).collect()[0][
        "embedding"
    ]
    planted = spark.createDataFrame(
        [(10_000_000, list(planted_vec))],
        "vec_id long, embedding array<float>",
    )
    cells_all = cells.unionByName(
        similarity.assign_cells(planted, cents)
    )
    enc_all = encoded.unionByName(pq.pq_encode(planted, books))
    queries = emb.filter(F.col("vec_id") == 0)
    probes = similarity.probe_assignments(queries, cents, n_probe=2)
    survivors = cells_all.join(probes.select("cell"), "cell").select(
        "vec_id"
    )
    pruned = enc_all.join(survivors, "vec_id")
    # the probe really pruned: fewer candidates than the corpus
    assert pruned.count() < enc_all.count()
    qp = queries.select("vec_id", "embedding").toPandas()
    hits = pq.pq_adc_topk(pruned, books, qp, k=10).collect()
    assert 10_000_000 in {r["neighbor_id"] for r in hits}


def test_object_dtype_int_query_ids_key_as_long(spark):
    """ADVICE r7: query ids arriving as pandas OBJECT dtype (e.g.
    Python ints via a dict-built frame) must key the broadcast ADC
    table by their real type (long), not coerce to string and force
    implicit casts in the id equi-join."""
    import numpy as np
    import pandas as pd

    from data_engineering_project_spark.operators import pq

    rng = np.random.default_rng(5)
    base = rng.normal(size=(64, 8)).astype(float)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    books = pq.pq_train(df, m=2, k=4, iters=1)
    enc = pq.pq_encode(df, books)
    queries = pd.DataFrame(
        {
            "vec_id": pd.array([0, 3], dtype=object),  # object-dtype ints
            "embedding": [
                list(map(float, base[0])),
                list(map(float, base[3])),
            ],
        }
    )
    assert queries["vec_id"].dtype.kind == "O"
    top = pq.pq_adc_topk(enc, books, queries, k=3)
    assert dict(top.dtypes)["query_id"] == "bigint"
    rows = top.collect()
    assert len(rows) == 6
    assert {r.query_id for r in rows} == {0, 3}


def test_ivfpq_topk_rerank_recovers_order(spark, emb, books, encoded):
    """The composed shortlist->exact-re-rank retriever (pq.ivfpq_topk):

    - every returned neighbor lies in the query's probed cells AND the
      ADC shortlist (the re-rank never resurrects a pruned row);
    - cosines are the EXACT rounded cosines (spot-checked vs numpy);
    - composed recall@5 vs exact brute force is at least bare ADC
      top-5 recall on the same candidates (re-rank only fixes order
      inside the shortlist, and measured it fixes a lot: 0.74-0.84 vs
      0.22-0.40 at the registered settings)."""
    from data_engineering_project_spark.operators import similarity

    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.kmeans_fit(emb, k=8, iters=2)
    cells = similarity.assign_cells(emb, cents)
    composed = pq.ivfpq_topk(
        cells, encoded, books, cents, queries, k=5, n_probe=3, shortlist=20
    ).localCheckpoint(eager=True)
    # subset-of-shortlist (and therefore of probed cells)
    probes = similarity.probe_assignments(queries, cents, n_probe=3)
    cands = (
        cells.select("vec_id", "cell")
        .join(probes.select("query_id", "cell"), "cell")
        .select("query_id", "vec_id")
    )
    qp = queries.select("vec_id", "embedding").toPandas()
    sl = pq.pq_adc_topk(encoded, books, qp, k=20, candidates=cands)
    leaked = composed.join(
        sl.selectExpr("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_anti",
    ).count()
    assert leaked == 0
    # exact cosine values
    vecs = {
        int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
    }
    for r in composed.collect():
        a, b = vecs[int(r["query_id"])], vecs[int(r["neighbor_id"])]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(round(want, 6) - r["cosine"]) < 1e-9
    # recall vs bare ADC top-5 on the same candidates
    exact5 = similarity.cosine_topk(emb, queries, k=5)
    def hits(df):
        return df.join(
            exact5.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
    adc5 = pq.pq_adc_topk(encoded, books, qp, k=5, candidates=cands)
    assert hits(composed) >= hits(adc5)
    # k rows per query, ranked by cosine desc
    per_q = composed.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_q)


def test_grouped_kernel_matches_candidate_pair_form(spark, emb, books, encoded):
    """pq_adc_topk_grouped (cell-aware IVFADC kernel, r13) must return
    EXACTLY the rows of pq_adc_topk with candidates = the probe x
    cell-membership pair relation — the grouped form is a plan change
    (codes stream once, no pair frame), never an answer change."""
    from data_engineering_project_spark.operators import similarity

    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.kmeans_fit(emb, k=8, iters=2)
    cells = similarity.assign_cells(emb, cents)
    probes = similarity.probe_assignments(queries, cents, n_probe=3)
    cands = (
        cells.select("vec_id", "cell")
        .join(probes.select("query_id", "cell"), "cell")
        .select("query_id", "vec_id")
    )
    qp = queries.select("vec_id", "embedding").toPandas()
    pair_form = pq.pq_adc_topk(encoded, books, qp, k=7, candidates=cands)
    grouped_form = pq.pq_adc_topk_grouped(
        encoded.join(cells.select("vec_id", "cell"), "vec_id"),
        books,
        qp,
        probes.select("query_id", "cell").toPandas(),
        k=7,
    )
    a = sorted(map(tuple, pair_form.collect()))
    b = sorted(map(tuple, grouped_form.collect()))
    assert a == b and len(a) > 0


def test_adc_candidates_with_unknown_query_ids_are_dropped(spark, emb, books, encoded):
    """Candidate pairs whose query_id is not in the query set never
    produce output rows (the pre-r13 broadcast form could not emit
    them either — no query row to join)."""
    import pandas as pd

    qp = emb.filter(F.col("vec_id") == 3).select("vec_id", "embedding").toPandas()
    cands = spark.createDataFrame(
        [(3, 7), (3, 9), (999_999, 11)], "query_id long, vec_id long"
    )
    rows = pq.pq_adc_topk(encoded, books, qp, k=10, candidates=cands).collect()
    assert {r["query_id"] for r in rows} == {3}
    assert {r["neighbor_id"] for r in rows} == {7, 9}


def test_grouped_kernel_empty_probes_and_queries(spark, emb, books, encoded):
    """Degenerate inputs return empty frames with the contract schema."""
    import pandas as pd

    from data_engineering_project_spark.operators import similarity

    cents = similarity.kmeans_fit(emb, k=4, iters=1)
    cells = similarity.assign_cells(emb, cents)
    enc_cells = encoded.join(cells.select("vec_id", "cell"), "vec_id")
    empty_q = emb.filter(F.col("vec_id") < 0).select("vec_id", "embedding").toPandas()
    out = pq.pq_adc_topk_grouped(
        enc_cells, books, empty_q, pd.DataFrame({"query_id": [], "cell": []}), k=3
    )
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["query_id", "neighbor_id", "adc_ip"]


def test_collected_book_rows_score_identically_to_frames(spark, emb, books, encoded):
    """r13: ADC consumers accept pre-collected codebook rows (the
    driver builds its lookup tables from rows anyway — passing rows
    skips one collect job per subspace). Scores and ranks must be
    BIT-identical to the DataFrame form, and encode must produce the
    identical codes."""
    book_rows = [b.collect() for b in books]
    qp = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").toPandas()
    a = sorted(map(tuple, pq.pq_adc_topk(encoded, books, qp, k=10).collect()))
    b = sorted(map(tuple, pq.pq_adc_topk(encoded, book_rows, qp, k=10).collect()))
    assert a == b
    enc_rows = pq.pq_encode(emb.limit(50), book_rows)
    enc_frames = pq.pq_encode(emb.limit(50), books)
    assert enc_rows.exceptAll(enc_frames).count() == 0
    assert enc_frames.exceptAll(enc_rows).count() == 0


def test_pq_encode_keep_carries_cell_with_identical_codes(emb, books, encoded):
    """r14: pq_encode(keep=["cell"], dim=...) over the ASSIGNED frame
    must produce bit-identical codes to the bare encode over the raw
    corpus (the join-free path the composed retrievers now consume),
    with the carried cell equal to the assignment's."""
    from data_engineering_project_spark.operators import similarity

    cents = similarity.kmeans_fit(emb, k=8, iters=2)
    assigned = similarity.assign_cells(emb, cents)
    dim = len(books) * len(books[0].collect()[0]["centroid"])
    kept = pq.pq_encode(assigned, books, keep=["cell"], dim=dim)
    assert kept.columns == ["vec_id", "cell", "codes"]
    got = {r["vec_id"]: (r["cell"], list(r["codes"])) for r in kept.collect()}
    want_codes = {r["vec_id"]: list(r["codes"]) for r in encoded.collect()}
    want_cells = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    assert {k: v[1] for k, v in got.items()} == want_codes
    assert {k: v[0] for k, v in got.items()} == want_cells


def test_topk_of_deeper_shortlist_matches_direct_k(spark, emb, books, encoded):
    """r14: the bare-ADC top-5 read off the k=50 shortlist
    (_rank_topk(sl50, 5)) must equal the direct k=5 ranking on the
    same candidate sets — top-5 of the exact top-50 under the
    identical (adc_ip desc, neighbor_id asc) total order."""
    from data_engineering_project_spark.operators import similarity

    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.kmeans_fit(emb, k=8, iters=2)
    cells = similarity.assign_cells(emb, cents)
    enc_cells = encoded.join(cells.select("vec_id", "cell"), "vec_id")
    probes = similarity.probe_assignments(queries, cents, n_probe=3)
    qp = queries.select("vec_id", "embedding").toPandas()
    probes_pdf = probes.select("query_id", "cell").toPandas()
    sl50 = pq.pq_adc_topk_grouped(enc_cells, books, qp, probes_pdf, k=50)
    direct5 = pq.pq_adc_topk_grouped(enc_cells, books, qp, probes_pdf, k=5)
    a = sorted(map(tuple, pq._rank_topk(sl50, 5).collect()))
    b = sorted(map(tuple, direct5.collect()))
    assert a == b and len(a) > 0


def test_ivfpq_topk_accepts_precomputed_shortlist(spark, emb, books, encoded):
    """r14: handing the grouped-kernel shortlist through shortlist_df
    must return the identical composed top-k as letting ivfpq_topk
    run the kernel itself."""
    from data_engineering_project_spark.operators import similarity

    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.kmeans_fit(emb, k=8, iters=2)
    cells = similarity.assign_cells(emb, cents)
    enc_cells = encoded.join(cells.select("vec_id", "cell"), "vec_id")
    probes = similarity.probe_assignments(
        queries, cents, n_probe=3
    ).localCheckpoint(eager=True)
    qp = queries.select("vec_id", "embedding").toPandas()
    probes_pdf = probes.select("query_id", "cell").toPandas()
    sl = pq.pq_adc_topk_grouped(enc_cells, books, qp, probes_pdf, k=20)
    via_df = pq.ivfpq_topk(
        cells, enc_cells, books, cents, queries,
        k=3, n_probe=3, shortlist=20, probes=probes, shortlist_df=sl,
    )
    direct = pq.ivfpq_topk(
        cells, enc_cells, books, cents, queries,
        k=3, n_probe=3, shortlist=20, probes=probes, probes_pdf=probes_pdf,
    )
    a = sorted(map(tuple, via_df.collect()))
    b = sorted(map(tuple, direct.collect()))
    assert a == b and len(a) > 0


def test_ivfpq_topk_refuses_queries_past_driver_budget(emb, books, encoded, monkeypatch):
    """Queries and probes are collected to the driver under a row
    budget: past it the call raises, naming the budget, instead of
    collecting everything."""
    from data_engineering_project_spark.operators import similarity

    cents = similarity.kmeans_fit(emb, k=4, iters=1)
    cells = similarity.assign_cells(emb, cents)
    queries = emb.filter(F.col("vec_id") < 6)
    # 6 queries x 2 probes = 12 probe rows: over a budget of 8
    monkeypatch.setattr(pq, "IVFPQ_DRIVER_ROWS", 8)
    with pytest.raises(ValueError, match="probes exceed .*IVFPQ_DRIVER_ROWS=8"):
        pq.ivfpq_topk(cells, encoded, books, cents, queries, k=2, n_probe=2, shortlist=5)
    # probes handed through: the queries collect is the one guarded
    monkeypatch.setattr(pq, "IVFPQ_DRIVER_ROWS", 5)
    with pytest.raises(ValueError, match="queries exceed"):
        pq.ivfpq_topk(cells, encoded, books, cents, queries, k=2, n_probe=2,
                      shortlist=5, probes_pdf=[])
    monkeypatch.setattr(pq, "IVFPQ_DRIVER_ROWS", 12)
    rows = pq.ivfpq_topk(cells, encoded, books, cents, queries, k=2, n_probe=2,
                         shortlist=5).collect()
    assert {r.query_id for r in rows} == set(range(6))
