"""Emulates the driver's correctness gate: run every queries() entry at
sf0.01 Spark-side and compare row-count + schema + order-insensitive values
against oracle_sql() in DuckDB."""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda x: str(x) if x is not None else None)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(
        drop=True
    )


def _values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) < 1e-12
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


ORACLES = entry_mod.oracle_sql()
ALL_QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    qfn = ALL_QUERIES[name]
    got = _canon(qfn(spark, SF_DIR).toPandas())
    exp = _canon(ddb.execute(ORACLES[name]).df())
    assert list(got.columns) == list(exp.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    for col in got.columns:
        ga, ea = got[col].tolist(), exp[col].tolist()
        for i, (a, b) in enumerate(zip(ga, ea)):
            assert _values_equal(a, b), (
                f"{name}.{col}[{i}]: {a!r} != {b!r}"
            )


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = ALL_QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["rank", "doc_id", "score"]


def test_rmtree_at_exit_registers_once_per_root(monkeypatch):
    """q_update_delta_topk rebuilds the same root on every call; its exit
    cleanup must be registered once per root, not once per call."""
    import atexit

    calls = []
    monkeypatch.setattr(atexit, "register", lambda *a, **kw: calls.append(a))
    monkeypatch.setattr(entry_mod, "_RMTREE_AT_EXIT", set())
    for root in ("/nonexistent/a", "/nonexistent/a", "/nonexistent/b"):
        entry_mod._rmtree_at_exit(root)
    assert [a[1] for a in calls] == ["/nonexistent/a", "/nonexistent/b"]
