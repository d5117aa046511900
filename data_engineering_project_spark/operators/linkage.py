"""Record linkage: blocked edit-distance joins over a name dictionary.

Beyond-reference capability (BASELINE.json north star): entity
resolution — "are these two records the same real-world thing?" — is
the classic data-engineering join no equi-join expresses. The family
here complements the set-similarity machinery in operators/dedup.py
(MinHash/LSH, PPJoin prefix filtering work on token SETS; edit
distance catches character-level typos those miss).

Scale design, the part that matters at 100 TB:

- **Dictionary first.** The quadratic stage runs over DISTINCT names,
  never the row stream — a fact table with 10^11 rows typically has
  10^6..10^8 distinct names, and replicated/skewed rows add zero cost.
  Ids map back through slim (name, id) equi-joins afterwards.
- **Blocking bounds the quadratic.** Candidate pairs come from an
  equi-join on a caller-chosen block key (prefix, phonetic code,
  suffix-stripped form …). Cost is Σ|block|², so the block function —
  not the data volume — owns the blow-up; ``block_profile`` measures
  exactly that before you commit to a key.
- **The distance filter rides the join.** ``levenshtein`` evaluates
  inside the same whole-stage-codegen pass as the pair enumeration —
  no Python, no second shuffle; Spark and DuckDB agree on classic
  Levenshtein semantics, so results are cross-engine checkable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_engineering_project_spark.operators.contracts import (
    BlockSizeExceeded,
)

__all__ = [
    "BlockSizeExceeded",
    "block_profile",
    "blocked_edit_pairs",
    "consonant_skeleton_block",
    "link_ids",
    "soundex_block",
    "strip_suffix_block",
]


def strip_suffix_block(n_chars: int = 2) -> Callable[[Column], Column]:
    """Block key = the name with its last ``n_chars`` characters
    removed — the right key when variation concentrates in a numeric
    or checksum tail (serials, account codes)."""

    def bk(name: Column) -> Column:
        # clamp: names shorter than n_chars would otherwise hand a
        # NEGATIVE substr length to the engine — Spark happens to
        # return '' but other engines (and a DuckDB oracle twin) can
        # error, so the clamp makes the expression total and portable.
        # Behaviorally all such short names still POOL into one shared
        # '' block; if the dictionary has many of them, that block is
        # quadratic — pass max_block_names to catch it loudly.
        return name.substr(
            F.lit(1), F.greatest(F.length(name) - F.lit(n_chars), F.lit(0))
        )

    return bk


def blocked_edit_pairs(
    df: DataFrame,
    name_col: str,
    block: Callable[[Column], Column],
    max_dist: int,
    max_block_names: int | None = None,
) -> DataFrame:
    """Candidate typo/variant pairs: ``(bk, name_a, name_b, dist)``
    with ``name_a < name_b`` and ``levenshtein <= max_dist``, enumerated
    only within blocks of the distinct-name dictionary.

    ``max_block_names`` is the fail-loudly guard (same contract as
    ``max_block_rows`` in similarity.embedding_near_dups): when set,
    the :func:`block_profile` census runs first (one extra small
    pre-flight job over the dictionary — deliberate: failing BEFORE the
    pair join is the whole point) and raises :class:`BlockSizeExceeded`
    naming the offending keys if ANY block holds more than that many
    distinct names — a degenerate key (empty string, constant prefix …)
    must abort the job, not silently schedule a quadratic task."""
    if max_block_names is not None:
        over = (
            block_profile(df, name_col, block)
            .filter(F.col("n_names") > max_block_names)
            .orderBy(F.col("n_names").desc())
            .limit(5)
            .collect()
        )
        if over:
            worst = ", ".join(f"{r['bk']!r}={r['n_names']}" for r in over)
            raise BlockSizeExceeded(
                f"block(s) exceed max_block_names={max_block_names}: "
                f"{worst} — the Σ|block|² pair join would be quadratic "
                "in the mega-block; choose a finer block key or raise "
                "the bound explicitly"
            )
    d = df.select(F.col(name_col).alias("name")).distinct()
    b = d.withColumn("bk", block(F.col("name")))
    left = b.select("bk", F.col("name").alias("name_a"))
    right = b.select("bk", F.col("name").alias("name_b"))
    return (
        left.join(right, "bk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
    )


def block_profile(df: DataFrame, name_col: str, block) -> DataFrame:
    """Per-block dictionary size and implied pair count — run this
    BEFORE a linkage join: Σ pairs is the real cost of the block key,
    and one mega-block is the failure mode to catch here, not in a
    3 a.m. straggler task."""
    d = df.select(F.col(name_col).alias("name")).distinct()
    return (
        d.groupBy(block(F.col("name")).alias("bk"))
        .agg(F.count("*").alias("n_names"))
        .withColumn(
            "n_pairs", (F.col("n_names") * (F.col("n_names") - 1) / 2).cast("long")
        )
    )


def link_ids(
    pairs: DataFrame,
    df: DataFrame,
    name_col: str,
    id_col: str,
) -> DataFrame:
    """Expand dictionary-level name pairs back to id pairs through two
    slim (name, id) equi-joins — the only stage that touches row-scale
    data, and it is linear."""
    ids = df.select(
        F.col(name_col).alias("name"), F.col(id_col).alias("id")
    ).distinct()
    a = ids.withColumnRenamed("name", "name_a").withColumnRenamed("id", "id_a")
    b = ids.withColumnRenamed("name", "name_b").withColumnRenamed("id", "id_b")
    return (
        pairs.join(a, "name_a")
        .join(b, "name_b")
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )


def consonant_skeleton_block(max_len: int = 6) -> Callable[[Column], Column]:
    """Portable phonetic-ish block key: first token, uppercased,
    letters only, first letter kept, vowels + H/W/Y dropped from the
    rest, truncated to ``max_len`` — the consonant skeleton that
    Soundex reduces to before digit-coding. Unlike :func:`soundex_block`
    this is a plain regexp_replace/substr chain BOTH Spark and DuckDB
    evaluate identically (no backreferences — RE2-safe), so pipelines
    blocking on it stay cross-engine hash-checkable. SQL twin::

        substr(
          upper(regexp_replace(split_part(name,' ',1),'[^A-Za-z]','','g')),
          1, 1)
        || substr(regexp_replace(substr(
             upper(regexp_replace(split_part(name,' ',1),'[^A-Za-z]','','g')),
             2), '[AEIOUHWY]', '', 'g'), 1, max_len-1)
    """

    def bk(name: Column) -> Column:
        tok = F.upper(
            F.regexp_replace(F.split(name, " ").getItem(0), "[^A-Za-z]", "")
        )
        head = tok.substr(F.lit(1), F.lit(1))
        tail = F.regexp_replace(
            tok.substr(F.lit(2), F.length(tok)), "[AEIOUHWY]", ""
        )
        return F.concat(head, tail).substr(1, max_len)

    return bk


def soundex_block() -> Callable[[Column], Column]:
    """Phonetic block key (Soundex of the first token) — the classic
    blocking for person/company names where typos change spelling but
    not sound. Spark-side only: Soundex has no DuckDB twin here, so
    pipelines using it are pytest-verified rather than oracle-checked
    (the edit-distance stage downstream is engine-agnostic either
    way)."""

    def bk(name: Column) -> Column:
        return F.soundex(F.split(name, " ").getItem(0))

    return bk
