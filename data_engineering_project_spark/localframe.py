"""JVM-native small local frames.

``spark.createDataFrame(<python list>)`` does NOT plan as a
LocalRelation: it parallelizes the pickled rows into a Python RDD, so
EVERY action over the frame (and over anything un-checkpointed built
on it) pays a Python-worker stage — measured ~0.39 s per action on
this workload against ~0.06 s for a JVM literal relation (guide §4:
the JVM↔Python boundary is the cost, and these frames never needed to
cross it — the values are already driver-side scalars).

:func:`local_rows` renders the rows as ONE ``VALUES`` literal with
every cell cast to its declared type, which the analyzer folds to a
LocalRelation served entirely by the JVM. Doubles are rendered with
``repr`` and cast from string — the exact-round-trip convention used
throughout the repo's literal expression builders — so values are
bit-identical to what createDataFrame would have produced. Timestamps
are rendered as their epoch microseconds, converted exactly as
createDataFrame converts them (naive values read as local time).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampType


def _split_ddl(ddl: str) -> list[tuple[str, str]]:
    """'a long, b array<double>' → [('a', 'long'), ('b', 'array<double>')]
    — split on top-level commas only (angle brackets may nest)."""
    fields: list[tuple[str, str]] = []
    depth = 0
    tok = ""
    for ch in ddl:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            fields.append(tok)
            tok = ""
        else:
            tok += ch
    fields.append(tok)
    out = []
    for f in fields:
        name, typ = f.strip().split(None, 1)
        out.append((name, typ.strip()))
    return out


def _sql_literal(v, typ: str) -> str:
    t = typ.lower()
    if v is None:
        return f"CAST(NULL AS {typ})"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime) and t == "timestamp":
        return f"timestamp_micros({TimestampType().toInternal(v)})"
    if isinstance(v, int):
        return f"CAST({v} AS {typ})"
    if isinstance(v, float):
        if v != v:
            return f"CAST('NaN' AS {typ})"
        if v == float("inf"):
            return f"CAST('Infinity' AS {typ})"
        if v == float("-inf"):
            return f"CAST('-Infinity' AS {typ})"
        # repr round-trips doubles exactly; string-cast is the repo's
        # bit-exact literal convention (cf. similarity._argmax_cell_exprs)
        return f"CAST('{v!r}' AS {typ})"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{esc}'"
    if isinstance(v, (list, tuple)) and t.startswith("array<"):
        elem_t = typ[typ.index("<") + 1 : typ.rindex(">")]
        return (
            "array(" + ",".join(_sql_literal(x, elem_t) for x in v) + ")"
        )
    raise TypeError(f"unsupported literal {type(v)} for {typ}")


def local_rows(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A LocalRelation with the same schema and values as
    ``spark.createDataFrame(rows, ddl)`` — but JVM-only: no Python RDD,
    no Python-worker stage on any action. ``rows`` is a list of tuples
    of driver-side scalars (None/bool/int/float/str, datetimes for
    ``timestamp`` columns, and flat arrays thereof); an empty list gives
    an empty frame of the declared schema."""
    fields = _split_ddl(ddl)
    names = ",".join(name for name, _ in fields)
    if not rows:
        nulls = ",".join(_sql_literal(None, typ) for _, typ in fields)
        return spark.sql(f"SELECT * FROM VALUES ({nulls}) AS t({names}) LIMIT 0")
    rendered = ",".join(
        "("
        + ",".join(_sql_literal(v, typ) for v, (_, typ) in zip(r, fields))
        + ")"
        for r in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {rendered} AS t({names})")
