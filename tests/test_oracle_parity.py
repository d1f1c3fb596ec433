"""Driver-compare rehearsal: run every catalog query on Spark AND its
DuckDB oracle at sf0.01, and require an order-insensitive exact match
(row count + per-cell values after sorting columns by name) — the same
contract CORRECTNESS_r{N}.json grades.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from cqi_engine.queries.catalog import CATALOG, run_query

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ORACLE_QUERIES = sorted(n for n, q in CATALOG.items() if q.duck_sql)
ROWS_ONLY_QUERIES = sorted(n for n, q in CATALOG.items() if not q.duck_sql)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as "
                f"select * from '{SF_DIR}/{t}.parquet'")
    return con


def _canon(val):
    if val is None:
        return "<null>"
    if isinstance(val, float):
        if math.isnan(val):
            return "<nan>"
        if val == int(val) and abs(val) < 1e15:
            return str(int(val))
        return repr(val)
    if isinstance(val, bool):
        return str(int(val))
    return str(val)


def _table_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, duck, name):
    q = CATALOG[name]
    sdf = run_query(spark, SF_DIR, q)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    dres = duck.sql(q.duck_sql)
    dcols = dres.columns
    drows = dres.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch"
    assert len(srows) == len(drows), \
        f"{name}: row count {len(srows)} vs oracle {len(drows)}"
    skey, dkey = _table_key(srows, scols), _table_key(drows, dcols)
    mism = [(a, b) for a, b in zip(skey, dkey) if a != b]
    assert not mism, f"{name}: {len(mism)} value mismatches; first: {mism[:3]}"


def test_no_rows_only_queries_left():
    """Every catalog entry carries an exact DuckDB oracle (rows-only
    entries get only the driver's weaker rows+schema check).  If this
    ever regresses, resurrect the per-query pandas-canonicalize smoke
    that lived here through round 3 — a bare .count() masked the round-1
    media_decode array-column crash."""
    assert ROWS_ONLY_QUERIES == []


def test_each_query_has_one_spark_plan():
    """A catalog entry runs exactly one Spark plan: a builder function or
    Spark SQL text, never both (run_query would run the function, and the
    text would be a second, never-run plan that can drift)."""
    both_or_none = sorted(n for n, q in CATALOG.items()
                          if (q.fn is None) == (q.spark_sql is None))
    assert both_or_none == []


def test_flagship_fixture_fresh(duck):
    """The committed flagship fixture must equal a fresh run of the pandas
    reference path — the fixture cannot drift from the kernel silently."""
    from cqi_engine.queries._flagship_fixture import FIXTURE_SQL, N_ROWS
    from cqi_engine.sources.webways import flagship_expected

    exp = flagship_expected(SF_DIR)
    assert len(exp) == N_ROWS
    fres = duck.sql(FIXTURE_SQL)
    fcols = fres.columns
    frows = fres.fetchall()
    assert sorted(fcols) == sorted(exp.columns)
    ekey = _table_key([tuple(t) for t in exp.itertuples(index=False)],
                      list(exp.columns))
    fkey = _table_key(frows, fcols)
    assert ekey == fkey


def test_flagship_full_fixture_fresh(duck):
    """The 38-column digest fixture must equal a fresh pandas-path run."""
    from cqi_engine.queries._flagship_fixture import FULL_FIXTURE_SQL
    from cqi_engine.sources.webways import flagship_full_expected

    exp = flagship_full_expected(SF_DIR)
    fres = duck.sql(FULL_FIXTURE_SQL)
    assert sorted(fres.columns) == sorted(exp.columns)
    ekey = _table_key([tuple(t) for t in exp.itertuples(index=False)],
                      list(exp.columns))
    fkey = _table_key(fres.fetchall(), fres.columns)
    assert ekey == fkey


def test_ann_blocked_matches_oracle_query(spark):
    """The numpy scale path must agree with the expression-fold baseline."""
    base = run_query(spark, SF_DIR, CATALOG["ann_topk"]).collect()
    blocked = run_query(spark, SF_DIR, CATALOG["ann_topk_blocked"]).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    b = {key(r): (r["cand_id"], round(r["cosine"], 6)) for r in base}
    s = {key(r): (r["cand_id"], round(r["cosine"], 6)) for r in blocked}
    assert b == s
