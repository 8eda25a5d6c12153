"""Driver-contract well-formedness: every oracle key has a query, entry runs,
column aliases line up (the driver hash-compares by sorted column names)."""

from __future__ import annotations

import importlib
import pkgutil

import __spark_entry__ as em
import rensa_spark


def test_contract_shapes():
    q = em.queries()
    o = em.oracle_sql()
    assert q, "no queries registered"
    assert set(o) <= set(q), f"orphan oracles: {set(o) - set(q)}"
    for name, fn in q.items():
        assert callable(fn), name
    for name, sql in o.items():
        assert "ORDER BY" in sql.upper() or "order by" in sql, name


def test_entry_smoke(spark):
    df = em.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == ["key", "is_dup"]
    assert len(rows) > 0


def test_queries_run_at_smallest_sf(spark):
    """Every registered query executes at sf0.001 and returns a DataFrame
    with at least the declared columns (cheap smoke; value parity is the
    selfcheck/driver's job at sf0.01)."""
    for name, fn in em.queries().items():
        out = fn(spark, "/root/testdata/sf0.001")
        assert out.columns, name
        out.limit(3).collect()


def test_package_imports():
    """Every module under rensa_spark imports: a module-level import of a
    deleted name fails here, by module name, not as collection errors in
    whichever test files happen to import it."""
    names = [
        m.name
        for m in pkgutil.walk_packages(rensa_spark.__path__, prefix="rensa_spark.")
    ]
    assert "rensa_spark.operators.sketch" in names
    for name in names:
        importlib.import_module(name)
