"""Similarity search over an embedding column (``array<float>``).

Beyond-reference capability (BASELINE.json north star):

- :func:`cosine_topk` — exact brute-force top-k, the correctness
  baseline. The query set is broadcast (it's small by definition); the
  corpus streams through a single map stage, so the plan is
  scan → broadcast-nested-loop → per-query top-k. No shuffle of the
  corpus itself; the only exchange is the final per-query k-row reduce.
- :func:`lsh_bucket_topk` — the scale path: random-hyperplane LSH
  (sign of dot with R random vectors) buckets the corpus; queries only
  compare against same-bucket rows. Recall < 1, cost ~ corpus/2^R per
  query. At 100 TB this is the difference between a full scan per query
  batch and a pruned scan; for exact results, re-rank survivors.

Both paths compute cosine in double precision via ``F.zip_with`` +
``F.aggregate`` — JVM array expressions, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_project_spark.operators.contracts import (
    BlockSizeExceeded,
)
from data_engineering_project_spark.localframe import local_rows


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine) — k rows per query,
    ranked by similarity desc with neighbor_id as the deterministic
    tiebreak; self-matches excluded.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries_pdf,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k, vectorized: numpy matmul per corpus partition.

    ``queries_pdf`` is a *pandas* DataFrame (id, vector) — the query set
    is small by definition and ships to executors inside the closure
    (same idea as a broadcast). Each Arrow batch of the corpus scores
    against ALL queries with one BLAS matmul and emits only its local
    top-k per query; the global reduce then ranks |partitions|×k rows
    per query. Crossover: at sf0.1 (5k vectors × 10 queries) the
    expression path still wins (Python-worker spinup dominates); the
    matmul path takes over as |corpus|×|queries| grows — per-pair cost
    is a fused multiply-add instead of an interpreted lambda tree.
    """
    import numpy as np
    import pandas as pd

    q_ids = queries_pdf[id_col].to_numpy()
    q_mat = np.stack(queries_pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
    q_normed = q_mat / np.maximum(
        np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12
    )

    def kernel(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            normed = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )  # clamp: zero vectors → 0-cosine, never NaN ordering
            sims = np.round(q_normed @ normed.T, 6)  # queries × batch
            for qi, qid in enumerate(q_ids):
                row = sims[qi]
                mask = ids != qid
                cand_idx = np.where(mask)[0]
                if not len(cand_idx):
                    continue
                # Local truncation must use the GLOBAL total order
                # (rounded cosine desc, neighbor_id asc) — truncating on
                # raw cosine could drop the id-tiebreak winner of a
                # rounded tie at the k-th slot, which the final window
                # rank (and the SQL oracle) would have kept. Top-k of a
                # union equals top-k of the local top-ks only under one
                # shared total order. lexsort: last key is primary.
                order = np.lexsort((ids[cand_idx], -row[cand_idx]))[:k]
                local = cand_idx[order]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": ids[local],
                        "cosine": row[local],
                    }
                )

    local_topk = corpus.mapInPandas(
        kernel, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def cosine_topk_auto(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pair_budget: int = 10_000,
) -> DataFrame:
    """Exact top-k with size-based routing.

    |corpus| x |queries| pairs at or under ``pair_budget``: the
    expression path (:func:`cosine_topk`) — no Python-worker spinup,
    whole plan stays in the JVM. Above it: the BLAS kernel
    (:func:`cosine_topk_vectorized`) — per-pair cost is a fused
    multiply-add inside one matmul instead of an interpreted
    aggregate-lambda tree (5.7x faster already at 5k x 10 pairs, and
    the gap widens with scale). The query set is collected driver-side
    either way (it is small by definition — it ships to executors
    broadcast-style in both paths); corpus size comes from a cheap
    count job amortized against the scoring pass it saves.
    """
    q_pdf = queries.select(id_col, vec_col).toPandas()
    if corpus.count() * max(len(q_pdf), 1) <= pair_budget:
        return cosine_topk(corpus, queries, id_col, vec_col, k)
    return cosine_topk_vectorized(corpus, q_pdf, id_col, vec_col, k)


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit signature: sign of ⟨vec, plane⟩ per hyperplane, packed to long."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(v) for v in plane]), lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return sig


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: compare only within matching hyperplane buckets.

    ``planes`` must be generated driver-side with a fixed seed (numpy
    RandomState) so the plan stays deterministic.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_similarity(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic distributed Lloyd's k-means → (label, centroid).

    The trained coarse quantizer for :func:`ivf_topk` (a label column is
    only a stand-in when the data happens to ship clusters). Per
    iteration: assign = broadcast-k cosine argmax per vector (map-side,
    no corpus shuffle), update = per-(cell, dim) mean via posexplode —
    one shuffle of k×dim rows collected to the driver (a k-row
    control-plane frame; the next assignment inlines it as literals
    anyway). Init = the k lowest-id vectors (deterministic; k-means++
    would sample), fetched with one TakeOrdered job.

    A cell that receives NO vectors in an assignment pass keeps its
    previous centroid (the standard Lloyd empty-cluster fallback)
    instead of vanishing from the codebook: the fit always returns
    exactly k labeled centroids, so a downstream IVF index never
    silently shrinks its cell count and ivf_cell_balance's
    16-populated-cells audit measures assignment-time health, not
    fit-time survivorship. (A carried-forward centroid can still own
    zero vectors at assignment time — that residual degeneration is
    exactly what the audit flags.)
    """
    spark = df.sparkSession
    rows = df.orderBy(id_col).limit(k).select(F.col(vec_col).alias("centroid")).collect()
    cent_map: dict[int, list[float]] = {
        i: [float(x) for x in r["centroid"]] for i, r in enumerate(rows)
    }

    def as_frame():
        # JVM literal relation, not createDataFrame(<python list>): the
        # latter plans as a pickled-RDD scan whose eager checkpoint (and
        # any pre-checkpoint action) pays a Python-worker stage —
        # ~0.4 s/fit measured; the literal parses in ~50 ms and the
        # doubles round-trip exactly (localframe.local_rows contract)
        return local_rows(
            spark, sorted(cent_map.items()), "label int, centroid array<double>"
        )

    for _ in range(iters):
        # the centroids are ALREADY driver-side floats — feed the
        # argmax builder directly instead of round-tripping them
        # through createDataFrame + collect (two driver jobs per
        # iteration, ~0.5-1 s each at bench scale; guide §5: the
        # driver should do almost no data work, and these jobs moved
        # no data). Same floats, same literals, bit-identical fit.
        cent_rows = [
            {"label": lbl, "centroid": vec}
            for lbl, vec in sorted(cent_map.items())
        ]
        assigned = _assign_cells_rows(df, cent_rows, id_col, vec_col)
        updated = (
            assigned.select(F.col("cell").alias("label"), F.posexplode(vec_col).alias("dim", "v"))
            .groupBy("label", "dim")
            .agg(F.avg(F.col("v").cast("double")).alias("mean_v"))
            .groupBy("label")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mean_v"))),
                    lambda s: s["mean_v"],
                ).alias("centroid")
            )
        ).collect()
        # labels absent from `updated` emptied this pass: carry forward
        for r in updated:
            cent_map[int(r["label"])] = [float(x) for x in r["centroid"]]
    return as_frame().localCheckpoint(eager=True)


# One inlined struct per centroid: analyzer time for the literal
# argmax measured 0.74 s at k=200 and 6.0 s at k=1000 (super-linear in
# k), so k is capped where analysis stays near one second.
MAX_LITERAL_CENTROIDS = 256


def _argmax_cell_exprs(cent_rows, vec_col: str) -> tuple[str, str]:
    """(norm_sql, argmax_sql) for the map-side nearest-centroid argmax.

    Emitted as ONE SQL string parsed once: composing the same tree out
    of pyspark lambda wrappers costs ~0.1s of py4j round trips PER
    COSINE (measured 1.5s for 16 centroids — pure driver overhead),
    while F.expr parses the whole thing in milliseconds. Each
    centroid's own norm is folded to a Python double up front — the
    identical sequential sum/sqrt an engine computes, so oracle-side
    replays stay bit-equal.

    Tiebreak is (sim desc, cell asc): struct compare is field-ordered,
    so ``array_max`` picks highest sim, then highest -cell = lowest
    cell. More than ``MAX_LITERAL_CENTROIDS`` centroids raise
    ValueError instead of planning for seconds."""
    import math

    k = len(cent_rows)
    if k > MAX_LITERAL_CENTROIDS:
        raise ValueError(
            f"literal-centroid argmax over k={k} centroids exceeds"
            f" MAX_LITERAL_CENTROIDS={MAX_LITERAL_CENTROIDS}: analyzer cost"
            " grows super-linearly in k (0.74 s at k=200, 6.0 s at k=1000);"
            " use fewer IVF cells"
        )
    norm_sql = (
        f"sqrt(aggregate(transform(cast({vec_col} as array<double>),"
        " x -> x * x), 0D, (a, v) -> a + v))"
    )
    structs = []
    for row in cent_rows:
        vec = [float(x) for x in row["centroid"]]
        vals = ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in vec)
        nc = math.sqrt(sum(x * x for x in vec))
        dot = (
            f"aggregate(zip_with(cast({vec_col} as array<double>),"
            f" array({vals}), (x, y) -> x * y), 0D, (a, v) -> a + v)"
        )
        structs.append(
            f"struct({dot} / (__nv * CAST('{nc!r}' AS DOUBLE)) AS sim,"
            f" {-int(row['label'])} AS negcell)"
        )
    return norm_sql, "array_max(array(" + ",".join(structs) + "))"


def assign_cells(
    corpus: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment: each vector → its nearest centroid ('cell').

    Fully map-side: the k centroids (a bounded control-plane frame —
    k ≤ a few hundred by construction) are collected and inlined as
    literal arrays, each vector scores k cosines and keeps the argmax
    via one ``array_max`` over (sim, -cell) structs. Zero exchanges:
    the earlier broadcast-join + per-vector window shuffled the WHOLE
    corpus on id just to rank k rows — at 100 TB that shuffle is the
    entire cost of an assignment pass, and it buys nothing the struct
    max doesn't."""
    cent_rows = cents.select(
        F.col("label"), F.col("centroid")
    ).collect()
    return _assign_cells_rows(corpus, cent_rows, id_col, vec_col)


def _assign_cells_rows(
    corpus: DataFrame,
    cent_rows,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`assign_cells` for callers that already hold the
    centroids driver-side (kmeans_fit's iteration loop) — skips the
    per-call createDataFrame/collect round trip. ``cent_rows`` is any
    sequence of mappings with ``label``/``centroid``; same literals,
    same plan, bit-identical assignment."""
    norm_sql, argmax_sql = _argmax_cell_exprs(cent_rows, vec_col)
    return (
        corpus.withColumn("__nv", F.expr(norm_sql))
        .select(
            F.col(id_col),
            F.col(vec_col),
            (-F.expr(argmax_sql)["negcell"]).alias("cell"),
        )
    )


def probe_assignments(
    queries: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 3,
) -> DataFrame:
    """→ (query_id, q_vec, cell): each query's ``n_probe`` nearest
    cells by centroid cosine — MAP-ONLY (r13, guide §2.4).

    The previous form broadcast the centroid frame, cross-joined and
    ranked with a per-query row_number window — an Exchange + Sort of
    k rows PER QUERY ROW, i.e. a full shuffle of the corpus whenever
    the query side IS the corpus (the multi-probe blocking path in
    :func:`embedding_near_dups_ann` / the stored side of the
    incremental operator). The centroids are a bounded control-plane
    frame (the assign_cells contract), so they inline as literals and
    the top-``n_probe`` is ``reverse(array_sort(...))[1..n_probe]``
    over (sim, -cell) structs in one codegen'd projection — zero
    exchanges, identical selection and tiebreak ((sim DESC, cell ASC);
    Spark sorts NaN greatest in both forms) and bit-identical sims
    (same zip_with/fold arithmetic, centroid doubles round-tripped
    exactly; cf. _argmax_cell_exprs, which these literals share).
    ``cents`` may be a DataFrame or pre-collected rows."""
    cent_rows = cents.collect() if hasattr(cents, "collect") else cents
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    if not cent_rows:
        # schema parity with the non-empty branch (ADVICE r13): `cell`
        # inherits the label column's dtype when the caller handed a
        # DataFrame; pre-collected empty rows carry no schema, so the
        # non-empty branch's integer literal type is the fallback
        cell_type = (
            cents.schema["label"].dataType.simpleString()
            if hasattr(cents, "schema") and "label" in cents.columns
            else "int"
        )
        return q.select(
            "query_id", "q_vec", F.lit(None).cast(cell_type).alias("cell")
        ).filter(F.lit(False))
    import math

    norm_sql, _ = _argmax_cell_exprs(cent_rows, "q_vec")
    structs = []
    for row in cent_rows:
        vec = [float(x) for x in row["centroid"]]
        vals = ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in vec)
        nc = math.sqrt(sum(x * x for x in vec))
        dot = (
            "aggregate(zip_with(cast(q_vec as array<double>),"
            f" array({vals}), (x, y) -> x * y), 0D, (a, v) -> a + v)"
        )
        structs.append(
            f"struct({dot} / (__nq * CAST('{nc!r}' AS DOUBLE)) AS sim,"
            f" {-int(row['label'])} AS negcell)"
        )
    top = (
        "slice(reverse(array_sort(array("
        + ",".join(structs)
        + f"))), 1, {int(n_probe)})"
    )
    return (
        q.withColumn("__nq", F.expr(norm_sql))
        .select(
            "query_id",
            "q_vec",
            F.explode(F.expr(top)).alias("__p"),
        )
        .select(
            "query_id",
            "q_vec",
            (-F.col("__p")["negcell"]).alias("cell"),
        )
    )


def rerank_within_cells(
    cells: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine re-rank inside the probed cells → top-k per query
    (rounded-cosine desc, neighbor-id asc — the repo's ranking
    convention). Precision within probed cells is exact; recall is the
    probe budget's job."""
    scored = (
        cells.join(probes, "cell")
        .filter(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine_similarity(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 3,
) -> DataFrame:
    """IVF-style ANN: search only the ``n_probe`` nearest cells per query.

    The scale path for corpus-sized search: the corpus is partitioned
    into cells once (amortized over all queries); each query touches
    ~``n_probe/k_cells`` of the corpus. Exact re-ranking happens inside
    the probed cells, so precision within probed cells is exact and
    recall is controlled by ``n_probe``. For a corpus probed
    repeatedly, operators/ann_index.py persists the assignment as a
    cell-partitioned parquet index and probes it with partition
    pruning — same probe/rerank helpers, same results.
    """
    cells = assign_cells(corpus, cents, id_col, vec_col)
    probes = probe_assignments(queries, cents, id_col, vec_col, n_probe)
    return rerank_within_cells(cells, probes, id_col, vec_col, k)


def embedding_near_dups(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    max_block_rows: int | None = None,
    max_total_pair_work: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocking groups.

    The vectorized scale path: ``applyInPandas`` per block computes the
    pairwise cosine matrix with one numpy matmul per group (Arrow
    batches in, BLAS inside, pairs out) — versus ~row-at-a-time HOF
    expression evaluation, this is the difference between seconds and
    hours at 10⁶ vectors. Blocking (here: a label/cluster column; in
    production an LSH bucket or IVF cell) bounds each group so the
    O(g²) matrix fits memory; the shuffle is one exchange on the block
    key.

    BOUNDED BLOCKS ARE THE CONTRACT, and ``max_block_rows`` makes it
    enforceable (r9; same fail-loudly pattern as
    linkage.blocked_edit_pairs): when set, a cheap census raises
    :class:`BlockSizeExceeded` naming the offending blocks before any
    O(g²) task is scheduled. An EXACT threshold join over unboundedly
    growing blocks is inherently quadratic — measured at the ×100
    probe: ×568 on a replica whose label blocks grow linearly with
    corpus (SCALING.md §round-9). The scale path for unbounded corpora
    is the IVF/ANN family (operators/ann_index.py — ×3.0 at the same
    probe), which bounds blocks by construction.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 4.
    """
    import numpy as np
    import pandas as pd

    if max_block_rows is not None or max_total_pair_work is not None:
        # ONE census job answers both guards: the per-block bound
        # (mega-block) and the total Σ C(g,2) pair-work bound (r14,
        # VERDICT r13 item 3 — blocks that each respect the per-block
        # bound can still grow linearly WITH the corpus, making the
        # census as a whole quadratic; an exact all-pairs run must
        # fail loudly above a stated budget and route to the ANN
        # substitute, whose recall the embedding_near_dups_ann entry
        # and the ×100 artifact measure). Detail queries run only on
        # the error path.
        stats = (
            df.groupBy(block_col)
            .agg(F.count("*").alias("n_rows"))
            .agg(
                F.sum(
                    F.expr("n_rows * (n_rows - 1) DIV 2")
                ).alias("pair_work"),
                F.max("n_rows").alias("max_rows"),
            )
            .collect()[0]
        )
        if (
            max_block_rows is not None
            and (stats["max_rows"] or 0) > max_block_rows
        ):
            over = (
                df.groupBy(block_col)
                .agg(F.count("*").alias("n_rows"))
                .filter(F.col("n_rows") > max_block_rows)
                .orderBy(F.col("n_rows").desc())
                .limit(5)
                .collect()
            )
            worst = ", ".join(f"{r[block_col]!r}={r['n_rows']}" for r in over)
            raise BlockSizeExceeded(
                f"block(s) exceed max_block_rows={max_block_rows}: {worst}"
                " — the O(g²) cosine stage would be quadratic in the"
                " mega-block; block on IVF cells / LSH buckets instead,"
                " or raise the bound explicitly"
            )
        if (
            max_total_pair_work is not None
            and (stats["pair_work"] or 0) > max_total_pair_work
        ):
            raise BlockSizeExceeded(
                f"exact pairwise census needs {int(stats['pair_work'])}"
                f" cosine pairs > max_total_pair_work="
                f"{max_total_pair_work} — block populations grow with"
                " the corpus, so the exact census is quadratic at"
                " scale; route to the ANN operator"
                " (embedding_near_dups_ann, nlist scaled to the"
                " corpus) or raise the bound explicitly"
            )

    out_schema = f"id_a long, id_b long, cosine double"  # noqa: F541

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ids = pdf[id_col].to_numpy()
        mat = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
        normed = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )  # clamp: zero vectors → 0-cosine, never NaN ordering
        sims = normed @ normed.T
        iu, ju = np.triu_indices(len(ids), k=1)
        mask = sims[iu, ju] > threshold
        a, b = ids[iu[mask]], ids[ju[mask]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": np.round(sims[iu, ju][mask], 4)}
        )

    return df.groupBy(block_col).applyInPandas(kernel, out_schema)


def _collapse_pairs(pairs: DataFrame) -> DataFrame:
    """Collapse multi-probe duplicate discoveries of the SAME pair to
    one row — on the PAIR KEYS, not the full row: the two discoveries
    of a pair straddling two probed cells run through differently
    shaped BLAS gemms, so a last-ulp difference at a round-to-4
    boundary could leave both rows behind a full-row ``distinct`` and
    break the 'each pair once' contract. ``max`` (not first-row
    dropDuplicates) keeps the collapse deterministic when that
    boundary is actually hit."""
    return pairs.groupBy("id_a", "id_b").agg(
        F.max("cosine").alias("cosine")
    )


def embedding_near_dups_ann(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    nlist: int = 16,
    n_probe: int = 4,
    iters: int = 5,
    max_block_rows: int | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """ANN-path near-duplicate pairs: the sub-quadratic substitute for
    :func:`embedding_near_dups` on unboundedly growing corpora (the one
    ×100 super-linear flag, SCALING_X100.json round 9).

    Blocking comes from the data itself instead of a label column: a
    deterministic k-means coarse quantizer (``nlist`` cells,
    :func:`kmeans_fit`) assigns every vector to its ``n_probe`` nearest
    cells (multi-probe — near-threshold pairs that straddle a cell
    boundary still co-occur in a probed cell), then the SAME BLAS
    pairwise kernel runs per cell and duplicate discoveries collapse
    on the pair keys (:func:`_collapse_pairs`). Cosines are computed exactly inside blocks,
    so the output NEVER contains a below-threshold pair (precision 1.0
    vs the global question by construction); the approximation budget
    is recall only, controlled by ``n_probe``/``nlist``.

    Scale shape: cells grow as ~``n_probe × N / nlist`` — at a fixed
    corpus-to-cell ratio the per-block O(g²) stage is bounded by
    RAISING ``nlist`` with the corpus (the standard IVF scaling), and
    ``max_block_rows`` makes the bound fail-loudly exactly like the
    exact operator. Recall-vs-exact is measured, not assumed: the
    ``embedding_near_dups_ann`` workload entry audits it against the
    exact operator's output at every tested SF, and the ×100 probe
    records it at sf10-equivalent.
    """
    if cents is None:
        cents = kmeans_fit(df, k=nlist, iters=iters, id_col=id_col, vec_col=vec_col)
    probed = probe_assignments(df, cents, id_col, vec_col, n_probe)
    blocks = probed.select(
        F.col("query_id").alias(id_col),
        F.col("q_vec").alias(vec_col),
        "cell",
    )
    return _collapse_pairs(
        embedding_near_dups(
            blocks,
            block_col="cell",
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            max_block_rows=max_block_rows,
        )
    )


def embedding_near_dups_incremental(
    stored: DataFrame,
    new: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    nlist: int = 16,
    n_probe: int = 4,
    stored_probes: int = 1,
    iters: int = 2,
    cents: DataFrame | None = None,
    max_block_rows: int | None = None,
    stored_cells: DataFrame | None = None,
    new_probes: DataFrame | None = None,
) -> DataFrame:
    """Incremental embedding near-dup detection: pairs above
    ``threshold`` that TOUCH the new batch — (new × stored) and
    (new × new) — without ever scheduling stored × stored work.

    ``stored_probes`` is the index-side multi-assignment factor: at
    near-dup thresholds the default 1 suffices (a near-identical pair
    shares its argmax cell), but a weak-similarity threshold needs
    the stored side in its top-m cells too — co-occurrence requires
    BOTH endpoints to reach a common cell, and a 0.35-cosine pair
    rarely lands the stored top-1 inside the new top-4 (measured
    recall 0.5 → 0.9+ going 1 → 4 at the tested SFs). The cost is an
    m× larger index — the standard multi-assignment trade, paid on
    the bounded stored-cells table, never as stored × stored work.

    The embedding analogue of ``dedup.lsh_candidates_incremental``
    (workload:`dedup_incremental_index`): a nightly ingest asks "is
    anything in this batch a near-dup of what we already have?", and
    rescanning the corpus against itself to answer it is the
    scale-killer this operator removes. Blocking is the same IVF
    coarse quantizer as :func:`embedding_near_dups_ann` (fit on the
    STORED corpus — the index side; the production composition is
    ``ann_index.incremental_near_dups_indexed``, which feeds the
    persisted sidecar centroids and the partition-pruned inverted
    lists through ``cents``/``stored_cells`` with ZERO refit per
    batch); stored vectors
    join only the cells the new batch probes, so the per-cell kernel
    sees ``new_in_cell × (new_in_cell + stored_in_cell)`` — one
    rectangular matmul per cell, never the stored-side square.

    Output: (id_a, id_b, cosine), id_a < id_b, each pair once
    (multi-probe discoveries collapse on the pair keys via
    :func:`_collapse_pairs`); every pair has at least one new id by
    construction.
    """
    import numpy as np
    import pandas as pd

    if stored_cells is not None:
        # the persisted-index path (operators/ann_index): the caller
        # already holds the assigned stored corpus (the inverted-lists
        # table, possibly partition-pruned to the probed cells) and
        # the FROZEN quantizer that assigned it — no refit here, ever
        if cents is None:
            raise ValueError(
                "stored_cells requires the cents that assigned it —"
                " refitting a quantizer against a pre-assigned index"
                " would probe the wrong cells"
            )
        stored_cells = stored_cells.select(
            id_col, vec_col, "cell"
        ).withColumn("is_new", F.lit(False))
    else:
        if cents is None:
            cents = kmeans_fit(stored, k=nlist, iters=iters, id_col=id_col, vec_col=vec_col)
        if stored_probes <= 1:
            stored_cells = assign_cells(stored, cents, id_col, vec_col).withColumn(
                "is_new", F.lit(False)
            )
        else:
            stored_cells = probe_assignments(
                stored, cents, id_col, vec_col, stored_probes
            ).select(
                F.col("query_id").alias(id_col),
                F.col("q_vec").alias(vec_col),
                "cell",
            ).withColumn("is_new", F.lit(False))
    # ``new_probes`` lets the persisted-index caller thread through a
    # probe frame it already computed (ann_index collects the probed
    # cell list from the same frame) — without it the centroid scoring
    # + row_number window over the batch would execute twice per batch
    if new_probes is None:
        new_probes = probe_assignments(new, cents, id_col, vec_col, n_probe)
    new_probed = new_probes.select(
        F.col("query_id").alias(id_col),
        F.col("q_vec").alias(vec_col),
        "cell",
    ).withColumn("is_new", F.lit(True))
    # stored side: only cells the new batch probes (semi-join prune —
    # on the persisted index this is partition pruning on cell=)
    probed_cells = new_probed.select("cell").distinct()
    stored_pruned = stored_cells.join(F.broadcast(probed_cells), "cell")
    blocks = stored_pruned.unionByName(new_probed)

    if max_block_rows is not None:
        # the census below and the pair kernel each execute the block
        # frame (multi-probe scoring + prune join of the stored side);
        # materialize it once when a census is requested (r14, guide
        # §5 — at lake scale this is the staged probed-blocks table)
        blocks = blocks.localCheckpoint(eager=True)
        over = (
            blocks.groupBy("cell")
            .agg(F.count("*").alias("n_rows"))
            .filter(F.col("n_rows") > max_block_rows)
            .orderBy(F.col("n_rows").desc())
            .limit(5)
            .collect()
        )
        if over:
            worst = ", ".join(f"{r['cell']!r}={r['n_rows']}" for r in over)
            raise BlockSizeExceeded(
                f"probed cell(s) exceed max_block_rows={max_block_rows}:"
                f" {worst} — raise nlist (constant cell population) or"
                " the bound explicitly"
            )

    out_schema = "id_a long, id_b long, cosine double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        new_mask = pdf["is_new"].to_numpy()
        if new_mask.sum() == 0 or len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ids = pdf[id_col].to_numpy()
        mat = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
        normed = mat / np.maximum(
            np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
        )
        # rectangular: new rows against ALL rows in the probed cell
        sims = normed[new_mask] @ normed.T
        new_ids = ids[new_mask]
        iu, ju = np.nonzero(sims > threshold)
        a, b = new_ids[iu], ids[ju]
        keep = a != b
        a, b = a[keep], b[keep]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        out = pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": np.round(sims[iu, ju][keep], 4)}
        )
        # new-new pairs appear twice in the rectangle (a×b and b×a)
        return out.drop_duplicates(["id_a", "id_b"])

    return _collapse_pairs(
        blocks.groupBy("cell").applyInPandas(kernel, out_schema)
    )


def centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Mean vector per label — posexplode → avg per (label, dim) →
    re-assemble ordered array. Shuffles (label × dim) rows, i.e. tiny."""
    dims = (
        df.select(F.col(label_col), F.posexplode(vec_col).alias("dim", "v"))
        .groupBy(label_col, "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("mean_v"))
    )
    return (
        dims.groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean_v"))),
                lambda s: F.round(s["mean_v"], 6),
            ).alias("centroid")
        )
    )


def embedding_dim_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension distribution stats over a vector column.

    The feature-health profile a training pipeline runs before
    normalizing embeddings: posexplode fans each vector into (dim, v)
    rows — columnar expansion, no data movement — then one groupBy(dim)
    whose partials are map-side combined, so the only exchange is
    n_dims × n_partitions partial rows regardless of corpus size.
    """
    ex = df.select(F.posexplode(vec_col).alias("dim", "v")).select(
        F.col("dim").cast("long").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    return ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.avg("v"), 6).alias("mean_v"),
        F.round(F.stddev("v"), 6).alias("std_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


def lloyd_step_summary(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One fully-verifiable Lloyd (k-means) step from a deterministic
    init: per cell, how many vectors it attracted, their mean cosine to
    the seed centroid, and the L2 distance the centroid would move.

    Init = the k lowest-id vectors (deterministic, so an independent
    engine can replay the identical step). Assignment is the map-side
    literal-centroid argmax (zero shuffles — see :func:`assign_cells`);
    the recomputed means shuffle only k × n_dims partial rows. This is
    the per-iteration cost model of :func:`kmeans_fit`, exposed as a
    value-checkable summary.
    """
    init = (
        df.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).alias("centroid"))
        .withColumn(
            "cell", F.row_number().over(Window.orderBy(F.lit(1))) - 1
        )
        .select(
            "cell",
            F.transform("centroid", lambda x: x.cast("double")).alias("centroid"),
        )
        .localCheckpoint(eager=True)
    )
    cent_rows = [
        {"label": row["cell"], "centroid": row["centroid"]}
        for row in init.collect()
    ]
    norm_sql, argmax_sql = _argmax_cell_exprs(cent_rows, vec_col)
    best = F.expr(argmax_sql)
    assigned = df.withColumn("__nv", F.expr(norm_sql)).select(
        F.col(vec_col),
        best["sim"].alias("sim"),
        (-best["negcell"]).alias("cell"),
    )
    per_cell = assigned.groupBy("cell").agg(
        F.count("*").alias("n_assigned"),
        F.round(F.avg("sim"), 4).alias("avg_cos"),
    )
    means = (
        assigned.select("cell", F.posexplode(vec_col).alias("dim", "v"))
        .groupBy("cell", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("mean_v"))
    )
    init_dims = init.select(
        "cell", F.posexplode("centroid").alias("dim", "init_v")
    )
    shift = (
        means.join(init_dims, ["cell", "dim"])
        .groupBy("cell")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("mean_v") - F.col("init_v"))
                        * (F.col("mean_v") - F.col("init_v"))
                    )
                ),
                4,
            ).alias("shift")
        )
    )
    return per_cell.join(shift, "cell")


def mmr_select(
    scored: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    vec_col: str = "embedding",
    rel_col: str = "relevance",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` of each query's candidates maximizing

        lam * relevance(d)  -  (1 - lam) * max_{s in selected} cos(d, s)

    → (query_id, rank, neighbor_id, mmr_score). The diversity term
    de-dupes near-identical results — the retrieval-side complement of
    corpus near-dup removal.

    Scale shape: the candidate set per query is already bounded (the
    output of cosine_topk / ivf_topk with a generous k), so the greedy
    O(k·|cand|) loop runs inside applyInPandas per query group —
    executor-side, one shuffle on query_id, no driver state. Ties are
    broken by candidate id ascending after 6-dp rounding, matching the
    engine-wide ranking convention.
    """
    import numpy as np
    import pandas as pd

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = np.stack(
            pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64))
        )
        normed = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )  # clamp: zero vectors → 0-cosine, never NaN ordering
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        sims = np.round(normed @ normed.T, 6)
        n = len(ids)
        selected: list[int] = []
        scores: list[float] = []
        avail = np.ones(n, dtype=bool)
        max_sim = np.zeros(n)
        for _ in range(min(k, n)):
            mmr = np.round(lam * rel - (1.0 - lam) * max_sim, 6)
            mmr_masked = np.where(avail, mmr, -np.inf)
            best = np.lexsort((ids, -mmr_masked))[0]
            selected.append(best)
            scores.append(float(mmr_masked[best]))
            avail[best] = False
            max_sim = np.maximum(max_sim, sims[best])
        return pd.DataFrame(
            {
                query_col: pdf[query_col].iloc[0],
                "rank": np.arange(1, len(selected) + 1),
                id_col: ids[selected],
                "mmr_score": scores,
            }
        )

    out_schema = (
        f"{query_col} long, rank int, {id_col} long, mmr_score double"
    )
    return scored.groupBy(query_col).applyInPandas(rerank, schema=out_schema)
