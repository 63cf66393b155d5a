"""Local replica of the driver's correctness gate: run every queries() entry
at sf0.01 and compare against oracle_sql() via DuckDB (row count, column
names, per-column pandas dtype kind, sorted value equality)."""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in sorted(cols):
            v = row[c]
            if isinstance(v, float):
                v = round(v, 6) if not math.isnan(v) else "nan"
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_queries_and_oracles_pair_up():
    # a query without an oracle is never compared, and an oracle without a
    # query is never run
    no_oracle = sorted(set(QUERIES) - set(ORACLES))
    no_query = sorted(set(ORACLES) - set(QUERIES))
    assert not no_oracle and not no_query, (
        f"queries without an oracle: {no_oracle}; "
        f"oracles without a query: {no_query}"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, ddb, name):
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    assert_frames_match(name, spark_pdf, ddb.execute(ORACLES[name]).df())


def assert_frames_match(name, spark_pdf, oracle_pdf):
    """Same rows, column names and per-column dtype kind, then the same
    sorted values. The kind check comes first because ``_normalize`` lets
    ``0 == 0.0`` pass, while the driver's type-aware hash tells an int
    column from a float one."""
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: rows {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    )
    assert sorted(c.lower() for c in spark_pdf.columns) == sorted(
        c.lower() for c in oracle_pdf.columns
    ), f"{name}: column names differ"
    kinds = {c.lower(): t.kind for c, t in spark_pdf.dtypes.items()}
    want_kinds = {c.lower(): t.kind for c, t in oracle_pdf.dtypes.items()}
    assert kinds == want_kinds, f"{name}: dtype kinds {kinds} vs oracle {want_kinds}"
    got = _normalize(spark_pdf.to_dict("records"), spark_pdf.columns)
    want = _normalize(oracle_pdf.to_dict("records"), oracle_pdf.columns)
    mismatches = [(g, w) for g, w in zip(got, want) if g != w]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_compare_rejects_int_against_float():
    spark_pdf = pd.DataFrame({"n": pd.Series([0, 1], dtype="int64")})
    oracle_pdf = pd.DataFrame({"n": pd.Series([0.0, 1.0], dtype="float64")})
    with pytest.raises(AssertionError, match="dtype kinds"):
        assert_frames_match("int_vs_float", spark_pdf, oracle_pdf)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_has_no_hugeint(ddb, name):
    # DuckDB widens sum() over integers to HUGEINT (128-bit), while Spark
    # sums to a 64-bit long; a type-aware result hash then differs even
    # when the values agree, so oracles cast their sums to BIGINT
    described = ddb.execute("DESCRIBE " + ORACLES[name]).fetchall()
    types = {r[0]: r[1] for r in described}
    assert not [t for t in types.values() if "HUGEINT" in t], types


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"entity_name", "detector", "n_mentions", "n_docs"}
