"""Deduplication operators over a text corpus.

Beyond-reference capability (BASELINE.json north star). Four tiers,
cheapest first; each is shuffle-minimal and fully distributed. The one
driver-side collect in the module is :func:`dup_clusters`' edge list,
bounded by :data:`MAX_DRIVER_EDGES`:

1. :func:`exact_dedup_groups` / :func:`exact_dedup` — md5-hash groupBy.
   One shuffle on a 128-bit key; at 100 TB the map-side partial
   aggregation collapses duplicate-heavy partitions before the exchange.
2. :func:`simhash` — 64-bit near-dup signature via per-token hash bit
   voting; Hamming-close signatures ≈ similar docs. Pure expressions.
3. :func:`minhash_lsh_candidates` — shingle → minhash → band-bucket
   join. The classic near-dup pipeline (Broder '97; used by most LLM
   data pipelines). Candidate generation is a self-join on (band,
   bucket-hash) — i.e. a shuffle on small int keys, never an O(n²)
   cross join.
4. :func:`ngram_jaccard` — exact Jaccard on shingle sets for a
   *candidate pair list* (verification step after LSH).
"""

from __future__ import annotations

from pyspark.ml.feature import NGram
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_engineering_project_spark.functions.text import doc_fingerprint, tokens


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical texts: (text_hash, keeper id = min, copy count)."""
    return (
        df.select(doc_fingerprint(text_col).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(f"keeper_{id_col}"), F.count("*").alias("n_copies"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct text — the 100 TB-safe
    formulation: shuffle on the hash, not on the full text bytes."""
    keepers = exact_dedup_groups(df, text_col, id_col).select(
        F.col(f"keeper_{id_col}").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


def shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, out: str = "sh"
) -> DataFrame:
    """(id, distinct word-n-gram array) per document.

    Built with ``pyspark.ml.feature.NGram`` (Scala-side array kernel).
    The obvious expression — ``transform(sequence(...), i ->
    concat_ws(' ', slice(tokens, i, n)))`` — evaluates the lambda
    *interpreted* per shingle; swapping it for NGram measured 3.5s →
    0.3s for 260k shingles at sf0.1. Documents shorter than ``n``
    tokens yield an empty array (no shingles — they can't be near-dups
    at n-gram granularity anyway).
    """
    tok_df = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    ng = NGram(n=n, inputCol="__toks", outputCol="__ng")
    return ng.transform(tok_df).select(
        F.col(id_col), F.array_distinct("__ng").alias(out)
    )


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document (Charikar '02).

    Each distinct token votes ±1 on each of 64 bits of its xxhash64;
    the signature's bit b is 1 iff the sum of votes is positive.
    Expressed as explode → groupBy(id) with 64 *branchless* bit sums —
    ``sum((h >> b) & 1)`` — plus a token count; the ±1 vote total is
    recovered as ``2·sum_bits − n``, so bit b is set iff ``2·sum_bits >
    n``. The earlier ``sum(when(bit, 1).otherwise(-1))`` form was 8×
    slower (measured 3.0s → 0.35s at sf0.1): conditional branches in
    the aggregate defeat codegen's tight loop. One shuffle on the doc
    id; partial aggregation keeps the exploded tokens map-side.
    """
    tok = (
        df.select(F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(64)
    ]
    agg = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *bit_sums)
    sig = F.lit(0).cast("long")
    for b in range(64):
        majority = (F.col(f"b{b}") * 2) > F.col("__n")
        sig = sig + F.when(majority, F.lit(1).cast("long") * (1 << b) if b < 63 else F.lit(-(1 << 63))).otherwise(0)
    return agg.select(F.col(id_col), sig.alias("simhash"))


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature array (length ``num_hashes``) per document.

    Hash family = seeded xxhash64 over a per-shingle base hash:
    h_i(x) = xxhash64(xxhash64(shingle), i) — overflow-free under ANSI
    mode (vs a*x+b universal hashing).

    Shape matters: higher-order-function lambdas are evaluated
    *interpreted* in Spark, so a nested transform-over-transform
    formulation runs ~50× slower than codegen. Instead: explode the
    shingle array (NGram-built, see :func:`shingle_arrays`) and compute
    the ``num_hashes`` minima as ordinary ``min`` aggregates —
    whole-stage codegen + map-side partial aggregation, one shuffle on
    the doc id whose width is just ``num_hashes`` longs per doc.
    """
    sh = shingles if shingles is not None else shingle_arrays(df, text_col, id_col, shingle_n)
    exploded = sh.select(
        F.col(id_col), F.explode("sh").alias("__sh")
    ).withColumn("__h", F.xxhash64("__sh"))
    mins = [
        F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"__m{i}")
        for i in range(1, num_hashes + 1)
    ]
    return (
        exploded.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{i}") for i in range(1, num_hashes + 1)]).alias(
                "minhash"
            ),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    ``shingles``: optional precomputed ``shingle_arrays`` frame shared
    with the verify step — tokenize+NGram once, not twice.

    Signature split into ``bands`` bands of ``num_hashes//bands`` rows;
    docs sharing any band hash become a candidate pair. The self-join
    key is (band_index, band_hash) — high cardinality, uniformly
    distributed, so the shuffle is balanced; the quadratic blowup is
    confined to same-bucket groups (tiny when bands are sized right).
    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, shingles)
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",", F.transform(F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band), lambda x: x.cast("string"))
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )
    left = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


MAX_DRIVER_EDGES = 50_000
"""Near-dup edge count up to which :func:`dup_clusters` solves the
components with a union-find on the driver. Measured on a 4-core host
with a random graph of 50,234 edges: the edge collect, the union-find and
the label-frame build took 0.46-0.57 s together (collect 0.31-0.35 s;
frame build alone 0.05 s for 35,000 label rows), and an action over the
labels 0.28-0.31 s. Label propagation costs a checkpoint and a count per
round instead."""


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc id, cluster id).

    After LSH+verify produces pairwise matches, dedup needs GROUPS: if
    A≈B and B≈C, keep one of {A,B,C}. That's connected components.

    Routing: the edges are collected with ``limit(MAX_DRIVER_EDGES + 1)``
    — the one action the small case pays. At or under the budget a
    driver union-find labels the components exactly, and the labels come
    back as a JVM-only frame (:func:`_labels_frame`, no Python-worker
    stage). Above it, :func:`_propagate_labels` runs distributed min-label
    propagation, and raises if ``max_iter`` rounds do not converge.

    Returns one row per distinct doc id appearing in ``pairs``;
    ``cluster_id`` is the component's minimum doc id (so the canonical
    "keeper" is the row where doc_id == cluster_id).
    """
    id_type = (
        pairs.select(F.col("id_a").alias("src"))
        .union(pairs.select(F.col("id_b").alias("src")))
        .schema["src"]
        .dataType
    )
    rows = pairs.select("id_a", "id_b").limit(MAX_DRIVER_EDGES + 1).collect()
    if len(rows) > MAX_DRIVER_EDGES:
        return _propagate_labels(pairs, max_iter)
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller root wins, so every root is its component's min
            parent[max(ra, rb)] = min(ra, rb)
    labels = {x: find(x) for x in parent}
    return _labels_frame(pairs.sparkSession, labels, id_type.simpleString())


def _labels_frame(spark, labels: dict, id_type: str) -> DataFrame:
    """(doc_id, cluster_id) rows from a driver dict, built in the JVM:
    one comma-joined string literal per column, split, cast and zipped —
    a Range + Generate plan with no Python RDD under it. (A ``VALUES``
    literal of the same rows took 1.3 s to build at 10,000 rows, this
    0.06 s.)"""
    arr = f"array<{id_type}>"
    if labels:
        ids = F.split(F.lit(",".join(map(str, labels))), ",").cast(arr)
        cls = F.split(F.lit(",".join(map(str, labels.values()))), ",").cast(arr)
    else:
        ids = cls = F.array().cast(arr)
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.arrays_zip(ids.alias("doc_id"), cls.alias("cluster_id")))
    )


def _propagate_labels(pairs: DataFrame, max_iter: int) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    path for edge lists above :data:`MAX_DRIVER_EDGES`. Each round every
    node adopts the smallest label among itself and its neighbors; the
    loop stops when no label changes (O(component diameter) rounds).

    Scale shape: each round is one join on the edge list + one
    min-aggregate, both keyed on int ids. Edges are symmetrized once up
    front; ``localCheckpoint`` per round truncates the growing lineage
    (20 rounds of joins would otherwise stack into one giant plan).
    Raises ``ValueError`` when labels still change after ``max_iter``
    rounds: a node of a longer chain would otherwise keep a non-minimum
    label and its duplicate would survive.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("doc_id"),
            F.least("src", "nbr_min").alias("cluster_id"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        # carry the previous label through the round's checkpoint so
        # the convergence check is a scan of materialized rows instead
        # of a per-round join of the two label frames (r14 — same
        # labels, same stopping round)
        updated = (
            labels.join(neighbor_labels, labels.doc_id == neighbor_labels.src, "left")
            .select(
                "doc_id",
                F.least(
                    "cluster_id", F.coalesce("nbr_label", "cluster_id")
                ).alias("new_cluster_id"),
                F.col("cluster_id").alias("prev_cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.filter(
                F.col("new_cluster_id") != F.col("prev_cluster_id")
            )
            .limit(1)
            .count()
        )
        labels = updated.select(
            "doc_id", F.col("new_cluster_id").alias("cluster_id")
        )
        if changed == 0:
            return labels
    n_labels = labels.select("cluster_id").distinct().count()
    raise ValueError(
        f"dup_clusters: labels still changing after max_iter={max_iter}"
        f" propagation rounds ({n_labels} provisional components); a"
        " near-dup chain is longer than the rounds can cover"
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs (LSH verification).

    ``shingles``: optional precomputed ``shingle_arrays`` frame (still
    scoped to the candidate ids here before the pair joins).

    Two broadcast-able joins attach shingle arrays to each side; the
    similarity itself is array intersection/union — per-row, no shuffle.
    Shingles are built only for documents that appear in a candidate
    pair (semi-join pre-filter) — the candidate set is tiny relative to
    the corpus after LSH banding.
    """
    pair_ids = pairs.select(F.col("id_a").alias(id_col)).union(
        pairs.select(F.col("id_b").alias(id_col))
    ).distinct()
    if shingles is not None:
        sh = shingles.join(F.broadcast(pair_ids), id_col, "left_semi")
    else:
        scoped = df.join(F.broadcast(pair_ids), id_col, "left_semi")
        sh = shingle_arrays(scoped, text_col, id_col, shingle_n)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
    )


# --- Portable (cross-engine deterministic) variants -----------------------
#
# The production paths above hash with xxhash64 (fastest JVM-side hash).
# DuckDB has no xxhash64, so those queries can only get the driver's
# rows-only check. The variants below derive every hash from md5 —
# byte-identical in Spark and DuckDB — so the FULL near-dup pipeline
# (shingle → minhash → banding → candidate pairs) is value-checkable
# against an SQL oracle. Same plan shape and shuffle structure as the
# fast path; only the hash family differs (~1.6x hash cost, still
# whole-stage codegen).


def portable_hash60(col) -> F.Column:
    """Deterministic 60-bit hash both engines can compute exactly:
    first 15 hex chars of md5(utf8) as a bigint. DuckDB twin:
    ``CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def mix_consts(i: int) -> tuple[int, int, int]:
    """Deterministic affine-mix constants for portable hash i, derived
    from md5 of the index so both the Spark expressions and the
    generated oracle SQL embed the SAME literals. a,b < 2^28 (odd),
    c < 2^60 — keeps every product/sum below 2^61, overflow-free in
    ANSI Spark and DuckDB bigints alike."""
    import hashlib

    d = hashlib.md5(f"minhash-{i}".encode()).hexdigest()
    return int(d[:7], 16) | 1, int(d[7:14], 16) | 1, int(d[14:29], 16)


_LO_MASK = (1 << 30) - 1


def _portable_minhash_wide(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, m1..m<num_hashes>) wide MinHash frame with the portable hash
    family: ONE md5 per shingle (base = portable_hash60(shingle), split
    into 30-bit halves), then h_i = a_i*hi + b_i*lo + c_i — integer
    arithmetic both engines evaluate bit-identically. Same
    explode→min-aggregate shape as :func:`minhash_signatures` — one
    shuffle on the doc id, map-side partial aggregation. (The first cut
    computed num_hashes FULL md5s per shingle: 9.7s → 2.9s at sf0.1 for
    the 32-hash pipeline.)"""
    sh = shingles if shingles is not None else shingle_arrays(df, text_col, id_col, shingle_n)
    exploded = (
        sh.select(F.col(id_col), F.explode("sh").alias("__sh"))
        .withColumn("__base", portable_hash60(F.col("__sh")))
        .withColumn("__hi", F.shiftright("__base", 30))
        .withColumn("__lo", F.col("__base").bitwiseAND(F.lit(_LO_MASK)))
    )
    mins = []
    for i in range(1, num_hashes + 1):
        a, b, c = mix_consts(i)
        mins.append(
            F.min(
                F.lit(a) * F.col("__hi") + F.lit(b) * F.col("__lo") + F.lit(c)
            ).alias(f"m{i}")
        )
    return exploded.groupBy(id_col).agg(*mins)


def minhash_signatures_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Long-form portable MinHash: one (id, h_idx, min_h) row per hash
    — scalar columns only, so the cross-engine canonicalizer can hash
    the result. Docs with fewer than ``shingle_n`` tokens yield no rows
    (no shingles), matching the SQL oracle's generate_series join.
    Pass a precomputed ``shingles`` frame to share the tokenize+NGram
    stage with the rest of the dedup family."""
    wide = _portable_minhash_wide(
        df, text_col, id_col, num_hashes, shingle_n, shingles
    )
    # <i>L literals: bigint h_idx, matching the oracle's generate_series
    stack = "stack({n}, {args}) AS (h_idx, min_h)".format(
        n=num_hashes,
        args=", ".join(f"{i}L, m{i}" for i in range(1, num_hashes + 1)),
    )
    return wide.select(F.col(id_col), F.expr(stack))


def lsh_candidates_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 4,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Banded-LSH candidate pairs with the portable hash family —
    the whole candidate-generation pipeline is exactly reproducible in
    DuckDB SQL (string_agg band keys). Each band holds
    ``num_hashes // bands`` rows, and a pair collides in a band with
    probability jaccard^rows: 8 rows per band at the defaults (32 hashes,
    4 bands), 4 rows at ``prepare_corpus``'s 16 hashes in 4 bands. More
    rows per band keep same-bucket groups tiny, so the self-join never
    goes quadratic."""
    banded = lsh_band_rows_portable(
        df, text_col, id_col, num_hashes, bands, shingle_n, shingles
    )
    left = banded.select(F.col(id_col).alias("id_a"), "band", "band_key")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_band_rows_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 4,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, band, band_key) rows — the persistable LSH INDEX unit.

    Store these (e.g. a parquet table bucketed by (band, band_key))
    and incremental batches only compute signatures for THEIR docs;
    see :func:`lsh_candidates_incremental`."""
    rows_per_band = num_hashes // bands
    wide = _portable_minhash_wide(df, text_col, id_col, num_hashes, shingle_n, shingles)
    band_keys = [
        F.concat_ws(
            ",",
            *[
                F.col(f"m{b * rows_per_band + j}").cast("string")
                for j in range(1, rows_per_band + 1)
            ],
        )
        for b in range(bands)
    ]
    return wide.select(
        F.col(id_col), F.posexplode(F.array(*band_keys)).alias("band", "band_key")
    )


def lsh_candidates_incremental(
    new_rows: DataFrame, index_rows: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup candidates for a NEW batch against an existing corpus
    via its stored band index — the daily-increment path.

    Cost is O(|Δ|) signature compute plus one bucket join of the new
    band rows against the (pre-bucketed) index; the old documents'
    text is never touched. A full self-join rebuild re-reads and
    re-hashes the entire corpus every run — at 100 TB the difference
    between a nightly increment and an impossible job. Emits both
    new×old and new×new pairs (normalized id_a < id_b), exactly the
    pairs a full rebuild would emit that involve at least one new doc.
    """
    all_rows = index_rows.unionByName(new_rows)
    left = new_rows.select(F.col(id_col).alias("id_a"), "band", "band_key")
    right = all_rows.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


def simhash_portable(df: DataFrame, text_col: str, id_col: str, bits: int = 60) -> DataFrame:
    """60-bit portable SimHash (fits a signed bigint; same branchless
    bit-sum shape as :func:`simhash`)."""
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).withColumn("h", portable_hash60(F.col("tok")))
    bit_sums = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *bit_sums)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            (F.col(f"b{b}") * 2) > F.col("__n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select(F.col(id_col), sig.alias("simhash"))


def winnow_minima(
    df: DataFrame, text_col: str, id_col: str, k: int = 8, window: int = 4
) -> DataFrame:
    """(id, fp) — DISTINCT winnowing fingerprints, one row per selected
    hash (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS scheme).

    Hash every character ``k``-gram with the portable md5 family, keep
    the minimum of each sliding ``window`` of consecutive grams, dedup.
    The selected set is position-robust (any copy ≥ window+k-1 chars
    shares fingerprints) and ~|text|/window in size.

    Physical shape, chosen over the "obvious" array-lambda formulation
    (``transform(sequence(...), i -> md5(substr(...)))``): higher-order
    lambdas evaluate INTERPRETED per element — measured 7s for 500 docs,
    and catastrophically re-evaluated through self-join subtrees (320s).
    This version explodes gram positions instead: the per-gram md5 runs
    in whole-stage codegen (~20× faster), the sliding min is one window
    over (id, position), and the distinct reuses the window's hash
    partitioning on ``id`` — ONE shuffle total, linear in corpus size,
    no giant per-row arrays at 100 TB.

    Reference analog: file-level MD5 fingerprints
    (scripts/esplosione_dati.py:50-103) — this is the row-grain,
    locality-robust generalization used for plagiarism/near-dup
    detection over training corpora.
    """
    from pyspark.sql import Window

    t = F.lower(F.col(text_col))
    # Hash-repartition the RAW TEXT by id before the gram explode
    # (r13, guide §2.3/§8): the sliding-min window needs the data
    # clustered by id anyway, and placing the exchange here moves
    # ~k-gram-factor FEWER bytes (text once vs one ~32-byte row per
    # character) and spreads the per-gram md5 over the cluster — a
    # small input otherwise fits one scan split and the entire gram
    # pipeline runs in a single task. The count is EXPLICIT because
    # AQE coalescing sizes partitions from the shuffle's text bytes
    # and cannot see the ~30x explode downstream (it re-coalesced the
    # keyed repartition to one partition here); sized from the session
    # conf, not a local constant. The window reuses this partitioning,
    # so the exchange COUNT is unchanged.
    spark = df.sparkSession
    # the conf may be non-numeric on AQE-managed runtimes ('auto');
    # fall back to the cluster's default parallelism (ADVICE r13)
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        conf_parts = 0
    n_parts = max(conf_parts, spark.sparkContext.defaultParallelism)
    base = df.select(F.col(id_col), t.alias("__t")).repartition(
        n_parts, F.col(id_col)
    ).select(
        F.col(id_col),
        "__t",
        F.greatest(F.length("__t") - (k - 1), F.lit(1)).alias("__g"),
    )
    grams = base.select(
        F.col(id_col),
        "__g",
        F.explode(F.sequence(F.lit(1), F.col("__g"))).alias("__i"),
        "__t",
    ).select(
        F.col(id_col),
        "__g",
        "__i",
        portable_hash60(F.expr(f"substring(__t, __i, {k})")).alias("__h"),
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("__i")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        grams.withColumn("__wm", F.min("__h").over(w))
        # only windows fully inside the gram sequence (but always ≥1,
        # so short docs still fingerprint: the frame clamps at the end)
        .filter(F.col("__i") <= F.greatest(F.col("__g") - (window - 1), F.lit(1)))
        .select(F.col(id_col), F.col("__wm").alias("fp"))
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
    out: str = "fingerprints",
    minima: DataFrame | None = None,
) -> DataFrame:
    """(id, sorted fingerprint array) per document — the array view of
    :func:`winnow_minima` (which see, for the physical-shape notes).
    The collect_set aggregate reuses the window's partitioning on the
    doc id, so the array build adds no shuffle. Pass a precomputed
    ``minima`` frame to share the gram pipeline with pair generation."""
    if minima is None:
        minima = winnow_minima(df, text_col, id_col, k, window)
    return minima.groupBy(id_col).agg(
        F.array_sort(F.collect_set("fp")).alias(out)
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    window: int = 4,
    min_shared: int = 5,
    max_df: int = 20,
    minima: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints.

    Self-join of :func:`winnow_minima` on the fingerprint value → count
    shared per pair, one shuffle on (id_a, id_b) for the aggregate.

    Unlike LSH band keys, raw content fingerprints are NOT uniform:
    boilerplate substrings (templates, headers) put one fingerprint in
    thousands of documents, and each such value contributes O(df²)
    pairs — measured 95M raw pairs from a 5000-doc corpus, one
    fingerprint alone in 68% of docs. ``max_df`` drops fingerprints
    whose document frequency exceeds the cap BEFORE pairing (203k pairs
    at cap 20, identical true-dup recall): a fingerprint shared by
    thousands of docs is boilerplate, not duplication evidence. The df
    filter is a window count over fp, so its shuffle partitioning is
    exactly the self-join's key — one exchange serves both. The minima
    frame is eagerly materialized: both join sides consume it, and
    without truncation each subtree would recompute the gram pipeline.
    """
    from pyspark.sql import Window

    if minima is None:
        minima = winnow_minima(df, text_col, id_col, k, window)
    ex = (
        minima.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("__df") <= max_df)
        .drop("__df")
        .localCheckpoint(eager=True)
    )
    a = ex.select(F.col(id_col).alias("id_a"), "fp")
    b = ex.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def cross_split_contamination(
    df: DataFrame,
    text_col: str,
    id_col: str,
    split_col: str = "split",
    test_split: str = "test",
    train_split: str = "train",
    df_cap: int = 20,
    min_shared: int = 3,
    shingle_n: int = 3,
) -> DataFrame:
    """Train/test contamination scan: test-split documents sharing at
    least ``min_shared`` distinct word-``shingle_n``-grams with a
    train-split document (the decontamination step an LLM training
    pipeline runs before evaluating on held-out data — beyond-reference
    capability).

    Scale design: one NGram pass builds distinct (doc, shingle) rows
    carrying the split tag; shingles with document frequency above
    ``df_cap`` are dropped BEFORE the cross-split join (boilerplate
    n-grams explode candidate pairs without evidentiary value — the
    same cap that bounds winnowing's pair generation), so the join
    degree per shingle is at most df_cap² and never quadratic in the
    corpus. The df filter and the test×train join share the shingle
    shuffle key; per-pair shared counts partial-aggregate map-side.

    Returns (test_doc, train_doc, n_shared), n_shared >= min_shared.
    """
    tok_df = df.select(
        F.col(id_col), F.col(split_col), tokens(text_col).alias("__toks")
    )
    ng = NGram(n=shingle_n, inputCol="__toks", outputCol="__ng")
    ex = ng.transform(tok_df).select(
        F.col(id_col),
        F.col(split_col),
        F.explode(F.array_distinct("__ng")).alias("shingle"),
    )
    rare_shingles = (
        ex.groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") <= df_cap)
        .select("shingle")
    )
    rare = ex.join(rare_shingles, "shingle")
    te = rare.filter(F.col(split_col) == test_split).select(
        F.col(id_col).alias("test_doc"), "shingle"
    )
    tr = rare.filter(F.col(split_col) == train_split).select(
        F.col(id_col).alias("train_doc"), "shingle"
    )
    return (
        te.join(tr, "shingle")
        .groupBy("test_doc", "train_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_num: int = 1,
    threshold_denom: int = 2,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact set-similarity self-join with PPJoin-style prefix filtering
    (Xiao et al., WWW'08 — public algorithm): all pairs with shingle
    Jaccard >= threshold_num/threshold_denom, WITHOUT the all-pairs
    compare and WITHOUT the probabilistic miss of MinHash-LSH.

    Pruning: order each document's shingle set by global rarity
    (document frequency asc, shingle asc) and index only its first
    ``|S| - ceil(t*|S|) + 1`` shingles — two sets meeting the threshold
    MUST collide inside these prefixes, so the candidate join touches
    rare shingles only (the Zipf head that would explode a full
    inverted-index join never enters the index). Exact-recall
    complement to LSH banding: same equi-join shape, deterministic
    candidate set, integer threshold verify (inter*denom >= union*num —
    no float boundary).

    Scale: one df-count aggregate over (doc, shingle), one rank window
    per doc (bounded by doc shingle count), an equi-join on rare
    shingles, then per-pair array intersection on candidates only.
    """
    if shingles is None:
        # The shingle frame feeds three consumers (prefix index, set
        # sizes, verify arrays); checkpoint it once so NGram + distinct
        # run once, not three times (measured 7.2s -> ~2s at sf0.1).
        sh = (
            shingle_arrays(df, text_col, id_col, shingle_n)
            .filter(F.size("sh") > 0)
            .localCheckpoint(eager=True)
        )
    else:
        # precomputed (already materialized) frame — filter is map-side
        sh = shingles.filter(F.size("sh") > 0)
    ex = sh.select(F.col(id_col), F.explode("sh").alias("__sh"))
    dfreq = ex.groupBy("__sh").agg(F.count("*").alias("__df"))
    w = Window.partitionBy(id_col).orderBy(F.asc("__df"), F.asc("__sh"))
    ranked = (
        ex.join(dfreq, "__sh")
        .withColumn("__rn", F.row_number().over(w))
        .join(sh.select(F.col(id_col), F.size("sh").alias("__sz")), id_col)
    )
    num, denom = threshold_num, threshold_denom
    prefix_len = (
        F.col("__sz")
        - F.floor((num * F.col("__sz") + denom - 1) / denom)
        + 1
    )
    prefix = ranked.filter(F.col("__rn") <= prefix_len).select(
        F.col(id_col), "__sh", "__rn", "__sz"
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"),
        "__sh",
        F.col("__rn").alias("__pa"),
        F.col("__sz").alias("__sza"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"),
        F.col("__sh"),
        F.col("__rn").alias("__pb"),
        F.col("__sz").alias("__szb"),
    )
    # PPJoin's two exact-recall-safe candidate prunings, as join
    # residuals on the shingle equi-join (they matter most when shingle
    # document-frequency is flat and the bare prefix filter is weak):
    # - size filter: Jaccard >= t forces t <= |A|/|B| <= 1/t;
    # - positional filter: overlap <= 1 + min(|A|-pos_a, |B|-pos_b),
    #   which must reach the threshold's minimum overlap
    #   t/(1+t)*(|A|+|B|). Both as integer cross-multiplications.
    ub = F.lit(1) + F.least(
        F.col("__sza") - F.col("__pa"), F.col("__szb") - F.col("__pb")
    )
    cands = (
        a.join(b, "__sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__sza") * denom >= F.col("__szb") * num)
            & (F.col("__szb") * denom >= F.col("__sza") * num)
            & (
                ub * (num + denom)
                >= num * (F.col("__sza") + F.col("__szb"))
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(inter * denom >= union * num)
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
    )


def scrub_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring span removal (the dedup *rewrite*, not just the
    measurement): drop every token covered by an ``n``-gram that
    appears in ≥ ``min_docs`` distinct documents (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" — the
    span-level variant of exact dedup).

    → (id, scrubbed text, n_tokens_before, n_tokens_removed).

    Plan shape: one explode pass hashes every n-gram window (portable
    md5 family), the cross-doc document-frequency aggregate keeps only
    flagged hashes (shuffle key = 60-bit hash, never text), and the
    per-doc scrub joins each doc's OWN windows against the flagged set
    — so the rewrite is doc-keyed with bounded fan-in. Token ``i`` is
    removed iff ANY window starting in [i-n+1, i] is flagged, computed
    with an exact integer interval-overlap aggregate per doc.
    """
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col), F.col(text_col), toks.alias("__t"))
    # Hash-repartition the RAW TEXT by id below the window explode
    # (r14 — the winnow_minima pattern, guide §2.3/§8): a small corpus
    # fits one scan split, so the ~tokens-per-doc× explode and its
    # per-window md5 otherwise run in a single task; the exchange here
    # moves text bytes, not exploded window rows. Explicit count — AQE
    # sizes from the pre-explode bytes and would re-coalesce to one
    # partition (the winnow trap).
    spark = df.sparkSession
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        conf_parts = 0
    n_parts = max(conf_parts, spark.sparkContext.defaultParallelism)
    windows = (
        df.select(F.col(id_col), toks.alias("__t"))
        .repartition(n_parts, F.col(id_col))
        .select(
            id_col,
            F.explode(
                F.expr(f"sequence(0, size(__t) - {n})")
            ).alias("pos"),
            F.expr(
                f"array_join(slice(__t, pos + 1, {n}), ' ')"
            ).alias("__gram"),
        )
        .select(
            id_col, "pos", portable_hash60(F.col("__gram")).alias("gh")
        )
        # the window-hash table feeds TWO consumers (the cross-doc DF
        # aggregate and the per-doc flag join) — materialize it once
        # instead of re-exploding + re-hashing the corpus per consumer
        # (r14, guide §5: the lake pipeline's "write the fingerprint
        # table" step)
        .localCheckpoint(eager=True)
    )
    flagged = (
        windows.groupBy("gh")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("gh")
    )
    # positions of flagged windows per doc -> covered token index set
    flagged_windows = windows.join(flagged, "gh").select(id_col, "pos")
    covered = flagged_windows.select(
        id_col,
        F.explode(
            F.expr(f"sequence(pos, pos + {n} - 1)")
        ).alias("tok_idx"),
    ).distinct()
    removed = covered.groupBy(id_col).agg(
        F.collect_set("tok_idx").alias("__kill")
    )
    out = (
        base.join(removed, id_col, "left")
        .select(
            id_col,
            F.size("__t").cast("long").alias("n_tokens_before"),
            F.coalesce(F.size("__kill"), F.lit(0))
            .cast("long")
            .alias("n_tokens_removed"),
            F.array_join(
                F.filter(
                    F.transform(
                        "__t",
                        lambda t, i: F.when(
                            F.coalesce(
                                F.array_contains("__kill", i), F.lit(False)
                            ),
                            F.lit(None),
                        ).otherwise(t),
                    ),
                    lambda t: t.isNotNull(),
                ),
                " ",
            ).alias("scrubbed"),
        )
    )
    return out
