"""Oracle-parity harness — mirrors the driver's correctness gate.

Runs every workload query in Spark and its DuckDB oracle on the same
parquet, compares row counts, column names, and values (column-name
sorted, row-order insensitive, like the driver's value hash).
"""

from __future__ import annotations

import math

import pytest

from data_engineering_project_spark.plans import workload


def _canon(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        # kill -0.0 vs 0.0 and represent at full precision
        return repr(value + 0.0)
    return repr(value)


def _canon_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in idx) for r in rows)


ORACLE_CASES = sorted(workload.ORACLES)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_query_matches_oracle(spark, oracle, sf_dir, name):
    sdf = workload.QUERIES[name](spark, sf_dir)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = oracle.execute(workload.ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs oracle {len(duck_rows)}"
    )
    canon_spark = _canon_rows(spark_cols, spark_rows)
    canon_duck = _canon_rows(duck_cols, duck_rows)
    mismatches = [
        (a, b) for a, b in zip(canon_spark, canon_duck) if a != b
    ][:5]
    assert canon_spark == canon_duck, f"{name}: value mismatch, first diffs: {mismatches}"


def test_all_oracle_queries_have_spark_impl():
    missing = set(workload.ORACLES) - set(workload.QUERIES)
    assert not missing


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert rows[0]["total_orders"] > 0


def test_queries_are_registration_order_minus_library_only():
    """queries() reads no file and reorders nothing: the registry in
    registration order, minus the xxhash64 twins that have no oracle."""
    expected = [n for n in workload.QUERIES if n not in workload._LIBRARY_ONLY]
    assert list(workload.queries()) == expected
    assert list(workload.oracle_sql()) == [
        n for n in expected if n in workload.ORACLES
    ]


def test_only_the_registry_imports_the_registry():
    """No program module depends on plans/workload.py: the library and
    serving layers stand without the oracle registry."""
    import ast
    import pathlib

    import data_engineering_project_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    registry = root / "plans" / "workload.py"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == registry:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:  # resolve `from .x import y` to absolute
                    pkg_parts = path.relative_to(root.parent).parent.parts
                    anchor = pkg_parts[: len(pkg_parts) - node.level + 1]
                    base = ".".join([*anchor, base] if base else anchor)
                mods = [base] + [f"{base}.{a.name}" for a in node.names]
            else:
                continue
            if any(m.endswith("plans.workload") for m in mods):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders
