"""Data-layout control for parquet lakes: clustered (range + sorted)
writes.

The reference's lake is one file per order-month
(scripts/esplosione_dati.py:144-154) — partition pruning by month and
nothing else. At 100 TB a second layout lever matters: parquet
row-group min/max statistics only prune a scan when values are
*clustered*, i.e. each row group covers a narrow range of the filter
column. A shuffle-randomized write gives every row group the full
value range — statistics become useless and a point query reads the
whole table.

``write_clustered`` = ``repartitionByRange(cluster_by)`` (each output
file owns a contiguous, disjoint range — Spark samples the column to
build balanced range bounds) + ``sortWithinPartitions`` (row groups
WITHIN a file are sub-clustered, so even intra-file pruning works).
That is exactly the layout Delta's OPTIMIZE ZORDER BY degenerates to
for a single cluster column, without the table format: a point or
range predicate touches ~1/N of the files instead of all of them.

Composes with hive partitioning: ``partition_by`` gives coarse
directory pruning (e.g. month), ``cluster_by`` fine-grained stat
pruning within each directory (e.g. user id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    partition_by: list[str] | None = None,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on ``cluster_by``.

    ``num_files`` bounds output file count (defaults to Spark's range
    partitioning of ``spark.sql.shuffle.partitions``). One shuffle —
    the same cost a plain repartition write would pay, but the range
    exchange buys pruning forever after.
    """
    cols = [df[c] for c in cluster_by]
    if num_files is not None:
        clustered = df.repartitionByRange(num_files, *cols)
    else:
        clustered = df.repartitionByRange(*cols)
    clustered = clustered.sortWithinPartitions(*cols)
    writer = clustered.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def zorder_key(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key column: bit-interleave the rank-normalized
    cluster columns so EVERY column gets narrow per-file ranges.

    Lexicographic range clustering (:func:`write_clustered` with two
    columns) gives the first column perfect clustering and the second
    almost none — a predicate on the second column still reads every
    file. Interleaving bits trades a little locality on each axis for
    locality on all of them: with F files, each file covers roughly
    F^(-1/k) of each axis range for k columns.

    Normalization is min-max into [0, 2^bits): one tiny aggregate
    collects 2 scalars per column driver-side (a layout utility runs at
    write time, not in a query path). The interleave itself is a chain
    of shift/and/or expressions — whole-stage codegen, no Python.
    Returns (column_expression, for use in repartitionByRange/sort).
    """
    from pyspark.sql import functions as F

    if not 1 <= len(cols) <= 3:
        raise ValueError("zorder_key supports 1-3 columns")
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__max_{c}")]
    row = df.agg(*aggs).collect()[0]
    k = len(cols)
    max_val = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo, hi = row[f"__min_{c}"], row[f"__max_{c}"]
        span = (hi - lo) or 1.0
        norm = F.least(
            F.lit(max_val),
            F.greatest(
                F.lit(0),
                ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * max_val).cast("long"),
            ),
        )
        for b in range(bits):
            key = key + (
                F.shiftleft(
                    F.shiftright(norm, b).bitwiseAND(F.lit(1)), b * k + ci
                ).cast("long")
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_by: list[str],
    num_files: int | None = None,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Multi-column clustered write via a Morton key: range-partition
    and sort on the interleaved key so parquet min/max statistics prune
    predicates on ANY of the cluster columns (the single-column case
    degenerates to :func:`write_clustered`). Same one-shuffle cost.

    The common 2-column OVERWRITE at bits<=16 delegates to
    ``operators/layout.py`` — the canonical Morton pipeline (exact
    int64 fixed-point scaling + magic-number bit spreading,
    oracle-replayable and driver-checked by the ``zorder_locality`` /
    ``zorder_pruning_audit`` registry entries); this module keeps the
    generic float-normalized key for the remaining arities, for
    bits>16, and for appends. ``num_files=None`` keeps Spark's
    range-partitioning default on BOTH paths (ADVICE r12 — the
    delegation must not change the default file count, nor remap an
    explicit 0, which repartitionByRange rejects on either path).

    NOTE on appends: every write normalizes with the min/max of the
    rows being written, so an append never shares the exact key of the
    data already in the directory — per-file stats still prune, but
    old and new files tile the space under different scalings. A lake
    that appends z-ordered data should periodically rewrite the
    directory (``compact_small_files`` with a re-sort, or a fresh
    overwrite) to restore one global layout."""
    if len(cluster_by) == 2 and mode == "overwrite" and bits <= 16:
        from data_engineering_project_spark.operators import layout as _morton

        _morton.zorder_write(
            df, cluster_by[0], cluster_by[1], path,
            n_files=num_files, bits=bits,
        )
        return
    keyed = df.withColumn("__z", zorder_key(df, cluster_by, bits))
    clustered = (
        keyed.repartitionByRange(num_files, "__z")
        if num_files is not None
        else keyed.repartitionByRange("__z")
    )
    clustered.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)


def compact_small_files(
    spark,
    path: str,
    target_bytes: int = 128 << 20,
    sort_within_by: list[str] | None = None,
) -> dict:
    """Rewrite a parquet directory's many small files into few
    ~``target_bytes`` files (the OPTIMIZE/compaction maintenance job
    every streaming or incremental sink eventually needs: tiny files
    mean per-file open/footer costs and task-scheduling overhead
    dominate the scan at 100 TB).

    Strategy: size the output file count from the CURRENT on-disk
    bytes (ceil(total/target)), rewrite to a staging directory
    alongside the table, then swap directories (sources/swap.py). The
    swap is crash-safe but two renames — not atomic for concurrent
    readers; a production lake would commit the rewrite through a
    table format's log (or this repo's sources/txlog.py) instead.
    Returns {files_before, files_after, bytes}.

    ``sort_within_by`` re-sorts rows inside each output file so
    compaction doubles as a re-clustering pass (see write_clustered).
    """
    import math
    import os

    from data_engineering_project_spark.sources.swap import swap_in

    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    compacted = df.coalesce(n_out)
    if sort_within_by:
        compacted = compacted.sortWithinPartitions(*sort_within_by)
    staging = path.rstrip("/") + ".__compact__"
    compacted.write.mode("overwrite").parquet(staging)
    swap_in(staging, path)
    after = [
        f
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return {
        "files_before": len(files),
        "files_after": len(after),
        "bytes": total,
    }
