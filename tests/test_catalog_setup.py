"""Fixed per-query cost of the catalog: what a query pays before its data.

Counts Spark jobs and tasks through the status tracker: every action inside
``_jobs`` runs under one job group, and the listener bus is drained before
the group's jobs are read.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

_PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")


def _jobs(spark, action):
    """(action's result, the ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"catalog-setup-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _n_jobs(spark, action):
    out, jobs = _jobs(spark, action)
    return out, len(jobs)


def _catalog_corpus(tmp_path, n_customers: int, n_suppliers: int) -> str:
    """The benchmark's catalog corpus (perfbench/gen.py, seed 31)."""
    sys.path.insert(0, _PERFBENCH)
    try:
        import gen
    finally:
        sys.path.remove(_PERFBENCH)
    d = str(tmp_path)
    gen.write_catalog(d, gen.catalog_tables(31, n_customers, n_suppliers))
    return d


def test_read_table_infers_schema_once_per_file_version(spark, tmp_path):
    """The first read of a file infers its schema (a Spark job); a second
    read of the same file runs no job.  Rewriting the file at the same
    path, or flipping a conf that changes inference, infers again."""
    from cqi_engine.queries.catalog import read_table

    d = str(tmp_path)
    pd.DataFrame({"a": [1, 2], "p": [b"x", b"y"]}).to_parquet(
        f"{d}/t.parquet")
    df, n = _n_jobs(spark, lambda: read_table(spark, d, "t"))
    assert n >= 1 and df.columns == ["a", "p"]
    df, n = _n_jobs(spark, lambda: read_table(spark, d, "t"))
    assert n == 0
    assert sorted(df.toPandas()["a"]) == [1, 2]
    assert df.schema["p"].dataType.simpleString() == "binary"

    pd.DataFrame({"a": [3], "p": [b"z"], "b": ["new"]}).to_parquet(
        f"{d}/t.parquet")
    df, n = _n_jobs(spark, lambda: read_table(spark, d, "t"))
    assert n >= 1 and df.columns == ["a", "p", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, bytearray(b"z"), "new")]
    _, n = _n_jobs(spark, lambda: read_table(spark, d, "t"))
    assert n == 0

    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df, n = _n_jobs(spark, lambda: read_table(spark, d, "t"))
    finally:
        spark.conf.set(key, before)
    assert n >= 1 and df.schema["p"].dataType.simpleString() == "string"
    df, n = _n_jobs(spark, lambda: read_table(spark, d, "t"))
    assert n == 0 and df.schema["p"].dataType.simpleString() == "binary"


def test_read_table_directory_version_covers_every_file(spark, tmp_path):
    """A Spark-written table directory: adding a file under it infers
    again and the new rows are read."""
    from cqi_engine.queries.catalog import read_table

    d = str(tmp_path)
    spark.range(3).write.parquet(f"{d}/t.parquet")
    read_table(spark, d, "t")
    _, n = _n_jobs(spark, lambda: read_table(spark, d, "t"))
    assert n == 0
    spark.range(3, 5).write.mode("append").parquet(f"{d}/t.parquet")
    df, n = _n_jobs(spark, lambda: read_table(spark, d, "t"))
    assert n >= 1 and df.count() == 5


def test_knn_blocked_stages_stay_coalesced(spark, tmp_path):
    """knn_ways persists its probe; with AQE allowed to change a cached
    plan's partitioning, no stage of a knn_blocked call runs more than 4
    tasks.  Without it every stage over the persisted probe, the Python
    refine included, runs spark.sql.shuffle.partitions (32) tasks, as
    several stages of a call did on the benchmark's catalog corpus used
    here."""
    from cqi_engine.queries.catalog import CATALOG, run_query

    d = _catalog_corpus(tmp_path, 6000, 400)
    rows, jobs = _jobs(spark, lambda: run_query(
        spark, d, CATALOG["knn_blocked"]).collect())
    st = spark.sparkContext.statusTracker()
    stages = [st.getStageInfo(s) for j in jobs
              for s in st.getJobInfo(j).stageIds]
    ran = [s.numTasks for s in stages if s and s.numCompletedTasks]
    assert len(rows) == 6000 * 5 and ran
    assert max(ran) <= 4, sorted(ran)


def test_run_query_keeps_the_session_partition_count(spark, tmp_path):
    """The engine configures a session once: a catalog query leaves the
    shuffle partition count the session's owner chose, both the one
    build_session was given and one set on the live session later."""
    from cqi_engine.queries.catalog import CATALOG, run_query

    d = _catalog_corpus(tmp_path, 200, 20)
    key = "spark.sql.shuffle.partitions"
    built = str(max(8, int(os.environ.get("CQI_TEST_CPUS", "4"))))
    run_query(spark, d, CATALOG["cell_agg"]).collect()
    assert spark.conf.get(key) == built
    spark.conf.set(key, "7")
    try:
        run_query(spark, d, CATALOG["cell_agg"]).collect()
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, built)
