"""Product quantization (PQ) — compressed embeddings for ANN at scale.

IVF (operators/similarity.py, operators/ann_index.py) prunes WHICH
vectors a query touches; PQ shrinks WHAT each touched vector costs.
The vector is split into ``m`` subvectors, each quantized to one of
``k`` per-subspace codewords (Jegou/Douze/Schmid, TPAMI'11), so a
64-dim float32 embedding (256 bytes) becomes ``m`` small codes (m
bytes at k<=256) — the difference between an embedding table that
spills to disk and one that sits in executor memory at 100 TB corpus
scale. Search is asymmetric (ADC): the query stays full-precision,
and each subspace contributes a codeword inner product read from a
per-query lookup table, so scoring a corpus row is ``m`` array reads
instead of ``dim`` multiply-adds.

Spark shapes: training is ``m`` independent coarse-quantizer fits
(:func:`similarity.kmeans_fit` on sliced vectors — same deterministic
Lloyd's); encoding is ONE map-only pass (the m argmaxes inline their
codeword literals exactly like ``assign_cells`` — zero exchanges, no
Python); ADC scoring is an Arrow-batched numpy table-gather kernel
(``mapInPandas``) with the per-query lookup tables shipped inside the
closure (queries are bounded by contract, as in cosine_topk) — the
``cosine_topk_vectorized`` gemm pattern applied to codes: scoring a
batch of n rows against Q queries is m fancy-index gathers + adds on a
(Q, n) array instead of Q*n*m interpreted expression nodes (r12
verdict item 1 measured the expression form at 12x the vector path's
wall time; the gather kernel is the same arithmetic at BLAS-adjacent
throughput). Nothing here shuffles the corpus.

Codewords are chosen by L2 argmin (minimum reconstruction error —
what ADC's inner-product read actually approximates); ADC scores the
reconstruction's inner product, which is exact for the reconstruction
and approximate for the original vector — recall against exact search
is the quality metric (tests/test_pq.py measures it alongside
reconstruction error).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_engineering_project_spark.operators.similarity import (
    cosine_similarity,
    kmeans_fit,
    probe_assignments,
)


def _subvec_sql(vec_col: str, j: int, d: int) -> str:
    return f"slice({vec_col}, {j * d + 1}, {d})"


def _argmin_l2_expr(cent_rows, vec_sql: str) -> str:
    """L2 codeword argmin for one subspace, as an argmax over
    (v.c - |c|^2/2, -label) structs: argmin |v_j - c|^2 equals that
    argmax because |v_j|^2 is constant across codewords — so the
    expression needs no per-row norm at all, just k inner products.
    (assign_cells' cosine argmax picks the same cell only for
    unit-norm codewords; ADC ranks by inner products of the
    reconstruction, so the encoder must minimize reconstruction
    error, i.e. L2.)"""
    structs = []
    for row in cent_rows:
        vec = [float(x) for x in row["centroid"]]
        vals = ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in vec)
        half_nc2 = sum(x * x for x in vec) / 2.0
        dot = (
            f"aggregate(zip_with(cast({vec_sql} as array<double>),"
            f" array({vals}), (x, y) -> x * y), 0D, (a, v) -> a + v)"
        )
        structs.append(
            f"struct({dot} - CAST('{half_nc2!r}' AS DOUBLE) AS sim,"
            f" {-int(row['label'])} AS negcell)"
        )
    return "array_max(array(" + ",".join(structs) + "))"


def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[DataFrame]:
    """Train the ``m`` per-subspace codebooks → list of (label,
    centroid) frames. Each subspace is an independent
    :func:`kmeans_fit` over the sliced vectors; the fits are
    sequential full-corpus passes (like IVF training) and are paid at
    index-build time, never per query."""
    dim = len(df.select(vec_col).limit(1).collect()[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    from concurrent.futures import ThreadPoolExecutor

    def fit(j: int):
        sub = df.select(
            F.col(id_col),
            F.expr(_subvec_sql(vec_col, j, d)).alias(vec_col),
        )
        return kmeans_fit(
            sub, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )

    # the m fits are independent jobs on disjoint column slices —
    # submitting them from threads lets Spark's scheduler interleave
    # their stages instead of paying m sequential job latencies
    # (thread-safe: SparkSession job submission is, and kmeans_fit
    # holds no shared state)
    with ThreadPoolExecutor(max_workers=m) as pool:
        return list(pool.map(fit, range(m)))


def pq_encode(
    df: DataFrame,
    codebooks: list[DataFrame],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: list[str] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """→ (id[, *keep], codes array<int>): each vector's per-subspace
    codeword ids, in ONE map-only projection — all m argmaxes run in
    the same whole-stage-codegen pass with their codewords inlined as
    literals, the assign_cells shape times m. At k<=256 the codes
    array is the m-byte compressed representation.

    ``keep`` carries extra columns of ``df`` through the projection —
    encoding the IVF-assigned frame with ``keep=["cell"]`` yields the
    (id, cell, codes) table the grouped ADC kernel consumes with ZERO
    join (r14: the enc×cells equi-join shuffled the corpus twice per
    composed retrieval for a column the assignment already had).
    ``dim`` (optional) skips the 1-row dimensionality probe job when
    the caller already knows the vector width."""
    book_rows = _book_rows(codebooks)
    m = len(book_rows)
    if dim is None:
        dim = len(df.select(vec_col).limit(1).collect()[0][0])
    d = dim // m
    code_cols = [
        -F.expr(_argmin_l2_expr(rows, _subvec_sql(vec_col, j, d)))[
            "negcell"
        ]
        for j, rows in enumerate(book_rows)
    ]
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep or [])],
        F.array(*code_cols).alias("codes"),
    )


def _book_rows(codebooks) -> list:
    """Collect codebooks that are still DataFrames; pass through
    already-collected row sequences unchanged."""
    return [
        b.collect() if hasattr(b, "collect") else b for b in codebooks
    ]


def _qid_coercion(queries_pdf, query_id_col: str):
    """(spark_type, python_coerce) for the query-id column: integer-
    kind pandas dtypes ship as long, float as double, anything else as
    string — the emitted query_id column must compare cleanly against
    ``id_col``."""
    kind = queries_pdf[query_id_col].dtype.kind
    if kind == "O" and len(queries_pdf):
        # object columns (e.g. Python ints read through pandas object
        # dtype) would otherwise coerce to string and force implicit
        # string/long -> double casts downstream — key by the values'
        # real type instead. ALL non-null values must agree
        # (first-value sniffing would mistype mixed columns); numpy
        # scalar types count as their Python kind.
        import numbers as _numbers

        vals = [v for v in queries_pdf[query_id_col] if v is not None]
        if vals and all(
            isinstance(v, _numbers.Integral)
            and not isinstance(v, bool)
            for v in vals
        ):
            kind = "i"
        elif vals and all(
            isinstance(v, _numbers.Real) and not isinstance(v, bool)
            for v in vals
        ):
            kind = "f"
    if kind in "iu":
        return "long", int
    if kind == "f":
        return "double", float
    return "string", str


def _adc_tables(codebooks, queries_pdf, query_id_col, query_vec_col):
    """Per-query ADC lookup tables as ONE numpy array.

    Returns (q_ids, T, qid_type, coerce): ``q_ids`` a numpy array of
    coerced query ids, ``T`` of shape (Q, m, L) where ``T[q, j, lbl]``
    is <query q's j-th subvector, codeword lbl of codebook j>. Tables
    are keyed BY LABEL VALUE, not by sorted position: a codebook's
    labels are not assumed contiguous 0..k-1 (since round 7
    :func:`similarity.kmeans_fit` carries empty cells forward, so ITS
    labels are always dense, but this scorer accepts any labeled
    codebook — e.g. one with pruned codewords). ``L`` is the global
    max(label)+1; gap slots hold NaN and are unreachable (pq_encode
    only ever emits labels that exist in the codebook) — the kernels
    still guard them, dropping NaN-scored pairs.

    Everything here is driver-side and bounded by contract: queries
    are small, codebooks are control-plane frames. Tables build as one
    BLAS gemm per subspace (query-slice matrix x codeword matrix) —
    the per-entry Python dot-product loop cost ~1s per 6k-query batch
    at the x100 rung and grew linearly with the batch. (Gemm
    accumulation order can differ from a left-fold sum in the last
    ulp; scores round to 6 decimals downstream, and every parity
    oracle in this family is tolerance- or invariant-based.)"""
    import numpy as np

    book_maps = []
    for b in codebooks:
        # a codebook may arrive as a DataFrame or as its already-
        # collected rows (callers that hold the control-plane rows
        # driver-side skip one collect job per subspace — guide §5)
        rows = b.collect() if hasattr(b, "collect") else b
        book_maps.append(
            {int(r["label"]): [float(x) for x in r["centroid"]] for r in rows}
        )
    m = len(book_maps)
    d = len(next(iter(book_maps[0].values())))
    qid_type, coerce = _qid_coercion(queries_pdf, query_id_col)
    n_q = len(queries_pdf)
    L = max((max(bm) + 1 for bm in book_maps if bm), default=1)
    T = np.full((n_q, m, L), np.nan)
    q_ids = np.array(
        [coerce(v) for v in queries_pdf[query_id_col]],
        dtype=(np.int64 if qid_type == "long" else
               np.float64 if qid_type == "double" else object),
    )
    if n_q:
        Q = np.stack(
            queries_pdf[query_vec_col].map(
                lambda v: np.asarray(v, dtype=np.float64)
            )
        )
        for j, book in enumerate(book_maps):
            if not book:
                continue
            labels = np.fromiter(book.keys(), dtype=np.int64, count=len(book))
            B = np.array([book[int(lbl)] for lbl in labels], dtype=np.float64)
            T[:, j, labels] = Q[:, j * d : (j + 1) * d] @ B.T
    return q_ids, T, qid_type, coerce


def _gather_scores(T, qidx, C):
    """Vectorized ADC: scores[i] = sum_j T[qidx[i], j, C[i, j]] with a
    NaN guard for out-of-range codes (the unreachable-gap contract,
    kept fail-soft: such pairs score NaN and are dropped). The sum is
    a left fold in subspace order — the same addition sequence as the
    pre-r13 expression scorer, so scores are bit-identical."""
    import numpy as np

    n, m = C.shape
    L = T.shape[2]
    S = np.zeros(n)
    for j in range(m):
        cj = C[:, j]
        g = T[qidx, j, np.clip(cj, 0, L - 1)]
        if ((cj < 0) | (cj >= L)).any():
            g = np.where((cj < 0) | (cj >= L), np.nan, g)
        S = S + g
    return S


def _emit_topk(q_ids, qidx, nids, scores, k):
    """Per-query local top-k of (qidx, nids, scores) triples under the
    GLOBAL total order (rounded score desc, neighbor id asc) — local
    truncation must use the same order the final window rank (and the
    SQL oracle) applies, or a rounded tie's id-tiebreak winner at the
    k-th slot could be dropped. Self-matches and NaN scores are
    removed first. Returns a pandas frame or None."""
    import numpy as np
    import pandas as pd

    keep = ~np.isnan(scores)
    # self-exclusion: compare the pair's neighbor id against its own
    # query's id (object-dtype ids compare elementwise fine)
    keep &= nids != q_ids[qidx]
    if not keep.any():
        return None
    qidx, nids, scores = qidx[keep], nids[keep], scores[keep]
    order = np.lexsort((nids, -scores, qidx))
    sq = qidx[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sq)) + 1]
    counts = np.diff(np.r_[starts, len(sq)])
    pos = np.arange(len(sq)) - np.repeat(starts, counts)
    sel = order[pos < k]
    return pd.DataFrame(
        {
            "query_id": q_ids[qidx[sel]],
            "neighbor_id": nids[sel],
            "adc_ip": scores[sel],
        }
    )


def _rank_topk(local, k: int) -> DataFrame:
    """Global (query_id, neighbor_id, adc_ip) top-k over the kernels'
    local top-k rows: rounded score desc, neighbor id asc — the repo's
    tiebreak convention."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_ip"), F.asc("neighbor_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_ip")
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[DataFrame],
    queries_pdf,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, neighbor_id, adc_ip).

    ``candidates`` (optional) is a (query_id, ``id_col``) pair frame
    restricting which rows each query may rank — FAISS's
    ``search_preassigned`` hook, i.e. the IVFPQ composition point: the
    IVF probe emits per-query candidate pairs, ADC ranks only those
    (the restriction applies BEFORE scoring, so pruned pairs are never
    scored at all; when the candidate relation is cell co-membership,
    prefer :func:`pq_adc_topk_grouped`, which never materializes the
    pair frame).

    Scoring is the Arrow table-gather kernel (r12 verdict item 1 —
    the per-pair ``element_at`` expression form cost 12x the vector
    path): per query, the m x k_sub table of <query subvector,
    codeword> inner products is computed driver-side (bounded:
    queries are small by contract, codebooks are control-plane
    frames) and shipped to executors inside the kernel closure; each
    Arrow batch of codes scores against all queries as m fancy-index
    gathers on a (Q, n) numpy array and emits only its local top-k
    per query under the global total order (rounded score desc,
    neighbor id asc — the repo's tiebreak convention), which the
    final window rank then merges. Scores are bit-identical to the
    expression scorer's (same driver-computed table values, same
    left-fold addition order); rounding is np.round to 6 — the
    ``cosine_topk_vectorized`` convention.

    Lookup tables are keyed BY LABEL VALUE, not by sorted position
    (see :func:`_adc_tables`)."""
    import numpy as np

    q_ids, T, qid_type, coerce = _adc_tables(
        codebooks, queries_pdf, query_id_col, query_vec_col
    )
    nid_type = encoded.schema[id_col].dataType.simpleString()
    out_schema = (
        f"query_id {qid_type}, neighbor_id {nid_type}, adc_ip double"
    )
    spark = encoded.sparkSession
    if not len(q_ids):
        return spark.createDataFrame([], out_schema)

    if candidates is None:
        Q = len(q_ids)

        def kernel(batches):
            import numpy as np

            for pdf in batches:
                if not len(pdf):
                    continue
                nids = pdf["__nid"].to_numpy()
                C = np.stack(pdf["codes"].map(np.asarray))
                n = len(nids)
                # all-queries dense scoring: repeat the gather per
                # query block — one (Q*n)-pair flat layout feeds the
                # shared top-k emitter
                qidx = np.repeat(np.arange(Q), n)
                S = np.round(
                    _gather_scores(T, qidx, np.tile(C, (Q, 1))), 6
                )
                out = _emit_topk(q_ids, qidx, np.tile(nids, Q), S, k)
                if out is not None:
                    yield out

        local = encoded.select(
            F.col(id_col).alias("__nid"), "codes"
        ).mapInPandas(kernel, out_schema)
        return _rank_topk(local, k)

    qpos = {qid: i for i, qid in enumerate(q_ids.tolist())}

    def kernel_pairs(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            qidx_ser = pdf["__qid"].map(qpos)
            ok = qidx_ser.notna().to_numpy()
            if not ok.any():
                continue
            qidx = qidx_ser.to_numpy()[ok].astype(np.int64)
            nids = pdf["__nid"].to_numpy()[ok]
            C = np.stack(pdf["codes"].map(np.asarray))[ok]
            S = np.round(_gather_scores(T, qidx, C), 6)
            out = _emit_topk(q_ids, qidx, nids, S, k)
            if out is not None:
                yield out

    pairs = candidates.select(
        F.col("query_id").alias("__qid"), F.col(id_col).alias("__nid")
    ).join(
        encoded.select(F.col(id_col).alias("__nid"), "codes"), "__nid"
    )
    local = pairs.mapInPandas(kernel_pairs, out_schema)
    return _rank_topk(local, k)


def pq_adc_topk_grouped(
    encoded: DataFrame,
    codebooks: list[DataFrame],
    queries_pdf,
    probes_pdf,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVFADC-shaped top-k: score each stored row against exactly the
    queries probing its cell — the FAISS inverted-list scan re-shaped
    for Spark. Same output contract as :func:`pq_adc_topk` with
    ``candidates`` = the (probe x cell-membership) pair relation, but
    the pair frame is NEVER materialized: the m-byte codes stream
    through the kernel ONCE (no join, no shuffle, no Q-fold row
    amplification), and the probe map ships driver-side
    ({cell -> query indices}, bounded: |queries| x n_probe entries).
    This is what makes the codes path cheaper than the vector path at
    scale — the heavy scan is the codes table, and it is read exactly
    once at m bytes/row.

    ``encoded`` must carry ``cell_col`` (the persisted codes sidecar
    does — it is partitioned BY cell, so callers pre-prune the scan
    with a static IN-list partition filter); ``probes_pdf`` is a
    pandas frame of (query_id, cell) probe assignments."""
    import numpy as np

    q_ids, T, qid_type, coerce = _adc_tables(
        codebooks, queries_pdf, query_id_col, query_vec_col
    )
    nid_type = encoded.schema[id_col].dataType.simpleString()
    out_schema = (
        f"query_id {qid_type}, neighbor_id {nid_type}, adc_ip double"
    )
    spark = encoded.sparkSession
    if not len(q_ids) or not len(probes_pdf):
        return spark.createDataFrame([], out_schema)
    qpos = {qid: i for i, qid in enumerate(q_ids.tolist())}
    cell2q: dict[int, list[int]] = {}
    for qid, cell in zip(
        probes_pdf["query_id"], probes_pdf[cell_col]
    ):
        qi = qpos.get(coerce(qid))
        if qi is not None:
            cell2q.setdefault(int(cell), []).append(qi)
    # CSR-style probe map for fully vectorized pair expansion (a
    # per-cell Python loop pays small-array numpy overhead ~nlist
    # times per batch — measured 3x the kernel's real work at
    # nlist=200): flat_q holds each cell's sorted query indices
    # contiguously, cell_off/cell_len index into it by cell id.
    cmax = max(cell2q, default=-1)
    cell_len = np.zeros(cmax + 1 or 1, dtype=np.int64)
    cell_off = np.zeros(cmax + 1 or 1, dtype=np.int64)
    flat_parts = []
    run = 0
    for c in range(cmax + 1):
        qs = sorted(set(cell2q.get(c, ())))
        cell_len[c] = len(qs)
        cell_off[c] = run
        run += len(qs)
        if qs:
            flat_parts.append(np.array(qs, dtype=np.int64))
    flat_q = (
        np.concatenate(flat_parts)
        if flat_parts
        else np.empty(0, dtype=np.int64)
    )

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf["__cell"].to_numpy().astype(np.int64)
            nids = pdf["__nid"].to_numpy()
            C = np.stack(pdf["codes"].map(np.asarray))
            n = len(cells)
            valid = (cells >= 0) & (cells <= cmax)
            cc = np.where(valid, cells, 0)
            counts = np.where(valid, cell_len[cc], 0)
            total = int(counts.sum())
            if total == 0:
                continue
            # pair layout: row i repeats once per query probing its
            # cell; within-row position walks that cell's query slice
            row_rep = np.repeat(np.arange(n), counts)
            starts = np.cumsum(counts) - counts
            pos = np.arange(total) - np.repeat(starts, counts)
            qidx = flat_q[cell_off[cc[row_rep]] + pos]
            S = np.round(_gather_scores(T, qidx, C[row_rep]), 6)
            out = _emit_topk(q_ids, qidx, nids[row_rep], S, k)
            if out is not None:
                yield out

    sel = encoded.select(
        F.col(id_col).alias("__nid"),
        "codes",
        F.col(cell_col).alias("__cell"),
    )
    # Parallelism guard: the codes table is m bytes/row, so at bench
    # scale its whole scan fits ONE file split and the kernel would
    # run serially. Re-spread by cell up to the session's parallelism
    # (a shuffle of the m-byte table — negligible, and at real scale
    # the cell-partitioned files already split wide so this no-ops).
    # BY CELL, not round-robin: each partition then holds few cells,
    # so its local top-k emits rows only for the queries probing
    # those cells instead of |partitions| x |queries| x k rows.
    n_cells = int((cell_len > 0).sum())
    target = min(
        spark.sparkContext.defaultParallelism, max(n_cells, 1)
    )
    if sel.rdd.getNumPartitions() < target:
        sel = sel.repartition(target, "__cell")
    local = sel.mapInPandas(kernel, out_schema)
    return _rank_topk(local, k)


# ivfpq_topk collects its queries and their (query, cell) probes to the
# driver; more rows than this in either fails loudly instead of
# exhausting driver memory.
IVFPQ_DRIVER_ROWS = 100_000


def _collect_bounded(df: DataFrame, what: str):
    """``df.toPandas()`` of at most ``IVFPQ_DRIVER_ROWS`` rows; reads
    one row past the budget (same job) and raises if it is there."""
    pdf = df.limit(IVFPQ_DRIVER_ROWS + 1).toPandas()
    if len(pdf) > IVFPQ_DRIVER_ROWS:
        raise ValueError(
            f"ivfpq_topk: {what} exceed the driver row budget"
            f" IVFPQ_DRIVER_ROWS={IVFPQ_DRIVER_ROWS}; split the queries"
        )
    return pdf


def ivfpq_topk(
    cells: DataFrame,
    encoded: DataFrame,
    codebooks: list[DataFrame],
    cents: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: DataFrame | None = None,
    probes_pdf=None,
    shortlist_df: DataFrame | None = None,
) -> DataFrame:
    """The COMPOSED production IVFPQ retriever: IVF probe prunes WHICH
    rows a query touches, ADC ranks ONLY those into a ``shortlist``,
    and exact full-precision cosine re-ranks the shortlist into the
    final top-k — the standard two-stage-plus-re-rank serving pattern
    (FAISS ``IVFPQ`` + refine). Bare ADC top-k is a lossy retriever
    (codes are m small codewords — measured recall@5 of 0.08-0.20 at
    the ×100 rung on near-random vectors); the re-rank recovers what
    quantization loses because the exact pass only has to ORDER
    ``shortlist`` survivors per query, never score the corpus.

    Inputs are the persisted serving state: ``cells`` = the assigned
    corpus (id, vector, cell — operators/ann_index.py's inverted
    lists), ``encoded`` = the PQ codes (:func:`pq_encode`),
    ``codebooks``/``cents`` = the trained quantizers. ``queries`` is a
    bounded DataFrame (collected driver-side for the ADC lookup
    tables, exactly like :func:`pq_adc_topk`); queries or probes past
    ``IVFPQ_DRIVER_ROWS`` raise ValueError.

    Scale shape: the probe join touches ~n_probe/k_cells of the codes;
    the exact stage scores |queries| × ``shortlist`` rows — a
    broadcast semi-join against the corpus, never a corpus scan. Cost
    per query is therefore (pruned ADC reads) + (shortlist exact
    cosines), the same asymptotics as the bare two-stage pipeline.

    Output: (query_id, neighbor_id, cosine) — k rows per query ranked
    by exact rounded cosine desc, neighbor_id asc (the repo's ranking
    convention), self-matches excluded.
    """
    from pyspark.sql import Window

    # ``probes`` lets a caller that already probed (e.g. the persisted
    # index, which needs the probed-cell list for partition pruning)
    # hand the checkpointed frame through instead of re-scoring;
    # ``probes_pdf`` additionally hands the driver-side (query_id,
    # cell) rows through, skipping this call's toPandas job over the
    # same tiny frame (guide §5: control-plane rows the driver already
    # holds should not round-trip through an executor job)
    if probes is None:
        probes = probe_assignments(
            queries, cents, id_col, vec_col, n_probe
        ).localCheckpoint(eager=True)
    if shortlist_df is not None:
        # a caller that already ran the grouped ADC kernel at this
        # shortlist depth (e.g. to ALSO read the bare-ADC ranking off
        # it — ivfpq_rerank_recall) hands the frame through; the
        # re-rank below consumes it unchanged (r14, guide §1.2: one
        # pass, two consumers)
        sl = shortlist_df
    else:
        if probes_pdf is None:
            probes_pdf = _collect_bounded(probes.select("query_id", "cell"), "probes")
        # the shortlist stage is the grouped IVFADC kernel: each code
        # row scores against exactly the queries probing its cell,
        # streaming the codes once — no (query, id) pair frame. A
        # codes frame that already carries `cell` (the persisted
        # sidecar is partitioned by it, and pq_encode(keep=["cell"])
        # over the assigned frame yields it join-free) feeds the
        # kernel directly; otherwise the cell assignment is joined on
        # (corpus-sized — avoid at scale by carrying the cell column).
        enc_cells = (
            encoded
            if "cell" in encoded.columns
            else encoded.join(cells.select(id_col, "cell"), id_col)
        )
        qp = _collect_bounded(queries.select(id_col, vec_col), "queries")
        sl = pq_adc_topk_grouped(
            enc_cells,
            codebooks,
            qp,
            probes_pdf,
            k=shortlist,
            id_col=id_col,
            query_id_col=id_col,
            query_vec_col=vec_col,
        )
    # exact re-rank: fetch ONLY the shortlist rows' vectors (broadcast
    # of |queries| x shortlist pairs prunes the corpus scan) and score
    # them full-precision against the query vectors the probe already
    # carries
    sl_vecs = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).join(F.broadcast(sl.select("query_id", "neighbor_id")), "neighbor_id")
    q_vecs = probes.select("query_id", "q_vec").dropDuplicates(["query_id"])
    scored = sl_vecs.join(F.broadcast(q_vecs), "query_id").select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_similarity(F.col("q_vec"), F.col("c_vec")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine")
    )
