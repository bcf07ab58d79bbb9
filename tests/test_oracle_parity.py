"""Every queries() entry must match its DuckDB oracle at sf0.001 —
the in-repo twin of the driver's correctness gate."""

import math
import os
import re

import duckdb
import pytest

import __spark_entry__ as entry_mod
from cex_crawler_spark.sources.corpus import REFERENCE_ROOT

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None:
        return ""
    if isinstance(v, float):
        if math.isnan(v):
            return ""
        return f"{v:.6f}"
    return str(v)


def _norm(pdf):
    pdf = pdf[sorted(pdf.columns)]
    return list(pdf.columns), sorted(
        tuple(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False)
    )


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()
# the reference_* queries read the reference's shipped snapshot
REFERENCE_QUERIES = [n for n in sorted(ORACLES) if n.startswith("reference_")]
REFERENCE_OUTPUT = os.path.join(REFERENCE_ROOT, "output")


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.reference_snapshot)
    if n in REFERENCE_QUERIES else n
    for n in sorted(ORACLES)
])
def test_query_matches_oracle(spark, con, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = con.sql(ORACLES[name]).df()
    scols, srows = _norm(sdf)
    ocols, orows = _norm(odf)
    assert scols == ocols
    assert len(srows) == len(orows)
    assert srows == orows


@pytest.mark.skipif(os.path.isdir(REFERENCE_OUTPUT),
                    reason="reference snapshot present")
@pytest.mark.parametrize("name", REFERENCE_QUERIES)
def test_reference_query_names_missing_snapshot(spark, name):
    with pytest.raises(FileNotFoundError, match=re.escape(REFERENCE_OUTPUT)):
        QUERIES[name](spark, SF_DIR)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "host_seq" in df.columns
