"""Skew salting, kNN ring search, streaming ingest, checkpoint resume."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------- skew ----
def test_salted_join_matches_unsalted(spark):
    from cqi_engine.operators.skew import salted_join, hot_cells, cell_histogram

    # 1000 points in one hot cell + 50 spread out; index rows per cell
    pts = spark.range(1050).select(
        F.col("id").cast("string").alias("way_id"),
        F.lit(0).alias("pt_seq"),
        F.when(F.col("id") < 1000, F.lit(7)).otherwise(F.col("id") % 40)
         .cast("long").alias("cell"))
    idx = spark.range(40).select(
        F.col("id").cast("long").alias("cell"),
        F.concat(F.lit("road"), F.col("id")).alias("road_id"))

    hist = cell_histogram(pts)
    hot = hot_cells(hist, threshold=4.0)
    assert [r["cell"] for r in hot.collect()] == [7]

    joined = salted_join(pts, idx, on_extra=[])
    plain = pts.join(idx, "cell").select("way_id", "road_id")
    got = {(r["way_id"], r["road_id"])
           for r in joined.select(pts["way_id"], idx["road_id"]).collect()}
    want = {(r["way_id"], r["road_id"]) for r in plain.collect()}
    assert got == want  # salting must never change join results


# ----------------------------------------------------------------- knn ----
def test_knn_ring_search(spark):
    from cqi_engine.operators.knn import knn_ways

    # 3 query points, 5 straight-line ways; cell size 100 in both axes
    pts = spark.createDataFrame(
        [("p1", 105.0, 105.0, 1, 1), ("p2", 350.0, 50.0, 3, 0),
         ("p3", 20.0, 20.0, 0, 0)],
        ["pt_id", "x", "y", "cx", "cy"])
    ways = []
    for i in range(5):
        x0 = i * 100.0
        ways.append((f"w{i}", int(x0 // 100), 0, [[x0, 0.0], [x0, 300.0]]))
        ways.append((f"w{i}", int(x0 // 100), 1, [[x0, 0.0], [x0, 300.0]]))
        ways.append((f"w{i}", int(x0 // 100), 2, [[x0, 0.0], [x0, 300.0]]))
    idx = spark.createDataFrame(
        ways, T.StructType([
            T.StructField("road_id", T.StringType()),
            T.StructField("cellx", T.IntegerType()),
            T.StructField("celly", T.IntegerType()),
            T.StructField("road_geom",
                          T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]))

    out = knn_ways(pts, idx, k=2, max_ring=2, cell_size=100.0)
    rows = {(r["pt_id"], r["rank"]): (r["road_id"], r["dist"])
            for r in out.collect()}
    assert rows[("p1", 1)] == ("w1", 5.0)     # x=100 line, 5 m away
    assert rows[("p1", 2)] == ("w2", 95.0)
    assert rows[("p2", 1)][0] in ("w3", "w4")
    assert rows[("p3", 1)] == ("w0", 20.0)


def test_knn_verifier_reprobes_skewed_density(spark):
    """Adversarial density: all sites cluster far from a group of query
    points, so the static ring bound (sized for a uniform corpus) finds
    too few / too-far candidates.  The per-point verifier must detect the
    failed proof (floor(dk/cell)+1 > ring, or n < k) and re-probe until
    results equal the global brute force — exactly the hardening the
    static-heuristic plan could not give."""
    import itertools
    from cqi_engine.operators.knn import knn_ways, _knn_probe

    cell = 100.0
    # 40 sites packed into one corner cell; 3 query points 15-30 cells away
    sites = [(f"s{i:02d}", 0, 0,
              [[float(5 + (i % 8) * 2), float(5 + (i // 8) * 2)]])
             for i in range(40)]
    idx = spark.createDataFrame(
        sites, "road_id string, cellx int, celly int, "
               "road_geom array<array<double>>")
    pts = spark.createDataFrame(
        [("far1", 1550.0, 1550.0, 15, 15),
         ("far2", 3050.0, 50.0, 30, 0),
         ("near", 150.0, 50.0, 1, 0)],
        "pt_id string, x double, y double, cx int, cy int")

    # brute-force truth
    truth = {}
    rows = [(p, x, y) for p, x, y, _, _ in
            [("far1", 1550.0, 1550.0, 0, 0), ("far2", 3050.0, 50.0, 0, 0),
             ("near", 150.0, 50.0, 0, 0)]]
    for p, x, y in rows:
        ds = sorted((round(((x - g[0][0]) ** 2 + (y - g[0][1]) ** 2) ** 0.5,
                           6), rid) for rid, _cx, _cy, g in sites)
        truth[p] = [rid for _d, rid in ds[:3]]

    # control: the unverified probe at ring 2 misses the far points entirely
    bare = _knn_probe(pts, idx, k=3, max_ring=2)
    assert bare.filter("pt_id like 'far%'").count() == 0

    got = knn_ways(pts, idx, k=3, max_ring=2, cell_size=cell)
    by_pt = {}
    for r in got.collect():
        by_pt.setdefault(r["pt_id"], []).append((r["rank"], r["road_id"]))
    for p in truth:
        assert [rid for _rk, rid in sorted(by_pt[p])] == truth[p], p


def test_knn_empty_site_table_yields_no_rows(spark):
    """Non-empty query points against a 0-row way index: the verifier
    flags every point (no candidates), the lazy ring cap reads an empty
    extent, and the loop must conclude 'disk covers everything' and
    return 0 rows instead of re-probing forever or crashing."""
    from cqi_engine.operators.knn import knn_ways

    idx = spark.createDataFrame(
        [], "road_id string, cellx int, celly int, "
            "road_geom array<array<double>>")
    pts = spark.createDataFrame(
        [("p1", 50.0, 50.0, 0, 0), ("p2", 150.0, 250.0, 1, 2)],
        "pt_id string, x double, y double, cx int, cy int")
    assert knn_ways(pts, idx, k=3, max_ring=1, cell_size=100.0).count() == 0


# ----------------------------------------------------------- streaming ----
def test_streaming_scoring_sink(spark, tmp_path):
    from cqi_engine.io import read_geojson_lines
    from cqi_engine.sources.pages import pages_dataframe
    from cqi_engine.streaming.ingest import read_pages_stream, scoring_sink

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "scored_out")
    ckpt = str(tmp_path / "ckpt")
    ways = read_geojson_lines(
        "/root/reference/data/test_ways/test_ways.geojson").drop(
        columns=["geom_metric"])
    pages_dataframe(spark, ways).write.parquet(src)

    stream = read_pages_stream(spark, src, max_files_per_trigger=2)
    q = scoring_sink(stream, out, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(300)
    scored = spark.read.parquet(out)
    assert scored.count() == 164  # the golden row multiplicity end-to-end
    assert "index" in scored.columns


def test_streaming_crawl_stats(spark, tmp_path):
    from cqi_engine.io import read_geojson_lines
    from cqi_engine.sources.pages import pages_dataframe
    from cqi_engine.streaming.ingest import read_pages_stream, crawl_stats_query

    src = str(tmp_path / "pages_in2")
    ways = read_geojson_lines(
        "/root/reference/data/test_ways/test_ways.geojson").drop(
        columns=["geom_metric"])
    pages_dataframe(spark, ways).write.parquet(src)
    stream = read_pages_stream(spark, src)
    q = (crawl_stats_query(stream, str(tmp_path / "ckpt2"))
         .queryName("crawl_stats").trigger(availableNow=True).start())
    q.awaitTermination(300)
    stats = spark.sql("select sum(n_pages) as n from crawl_stats").collect()
    assert stats[0]["n"] == 138


# ----------------------------------------------------------- checkpoint ----
def test_checkpoint_resume(spark, tmp_path):
    from cqi_engine.ops.checkpoint import (completed_partitions,
                                           read_snapshot, run_partitioned)

    out = str(tmp_path / "snap")
    calls = []

    def job(s, pid):
        calls.append(pid)
        return s.range(10).select(
            (F.col("id") + F.lit(int(pid) * 100)).alias("v"))

    r1 = run_partitioned(spark, out, ["0", "1"], job, input_snapshot="s1")
    assert r1["ran"] == ["0", "1"]
    # simulate a later run over a superset: completed partitions skipped
    r2 = run_partitioned(spark, out, ["0", "1", "2"], job,
                         input_snapshot="s1")
    assert r2["skipped"] == ["0", "1"] and r2["ran"] == ["2"]
    assert calls == ["0", "1", "2"]  # no partition reprocessed

    final = read_snapshot(spark, out)
    assert final.count() == 30
    vals = sorted(r["v"] for r in final.collect())
    assert vals == sorted(list(range(10)) + list(range(100, 110))
                          + list(range(200, 210)))
    assert set(completed_partitions(out)) == {"0", "1", "2"}

    # resume is snapshot-scoped (Iceberg semantics): a new INPUT snapshot
    # invalidates every lineage record stamped with the old one — the
    # partitions reprocess and the rewritten lineage carries the new stamp
    r3 = run_partitioned(spark, out, ["1", "2"], job, input_snapshot="s2")
    assert r3["ran"] == ["1", "2"] and r3["skipped"] == []
    assert calls == ["0", "1", "2", "1", "2"]
    assert read_snapshot(spark, out).count() == 30  # overwrite, no dupes
    lineage = completed_partitions(out)
    assert lineage["1"]["input_snapshot"] == "s2"
    assert lineage["0"]["input_snapshot"] == "s1"  # untouched partition
    # the manifest must not advertise a uniform snapshot the data does
    # not reflect: partition 0 still carries s1 output, so the top-level
    # stamp goes null and the per-partition map tells the truth
    assert r3["manifest"]["input_snapshot"] is None
    assert r3["manifest"]["partition_snapshots"] == \
        {"0": "s1", "1": "s2", "2": "s2"}


# ------------------------------------------------------ stateful stream ----
def test_stateful_sessionize_survives_dirty_events(spark, tmp_path):
    """NULL event times reach the stateful operator in the batch they
    arrive in (the watermark only drops them later) and used to crash
    int(NaN); NULL values used to NaN-poison the session sum.  Pinned:
    a NULL-ts row has no place on the session timeline and is skipped, a
    NULL value counts toward n_events but not value_sum (SQL SUM
    semantics), and a NULL user_id is an ordinary group key."""
    import datetime

    from cqi_engine.streaming.stateful import sessionize_stream

    ts = (lambda m: datetime.datetime(2026, 1, 1)
          + datetime.timedelta(minutes=m))
    rows = [
        (0, ts(0), 1, "a", 1.0, None),
        (1, ts(1), 1, "a", None, None),     # NULL value
        (2, None, 1, "a", 2.0, None),       # NULL event time
        (3, ts(2), None, "a", 3.0, None),   # NULL user_id
        (4, ts(120), 1, "a", 4.0, None),    # gap-separated second session
        (5, ts(600), 1, "a", 0.5, None),    # watermark flusher: wm ends at
                                            # 480 min, finalizing the rest
        (6, ts(0), 2, "a", None, None),     # user 2: a session whose
        (7, ts(1), 2, "a", None, None),     # values are ALL NULL
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    src = str(tmp_path / "dirty_in")
    ev.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (sessionize_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName("dirty_sessions")
         .option("checkpointLocation", str(tmp_path / "dirty_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
    got = {tuple(r) for r in spark.table("dirty_sessions").collect()}
    # watermark-final sessions only (end + gap < 480 min): user 1's
    # [0, 1 min] with the NULL value skipped in the sum and the NULL-ts
    # row skipped entirely, user 1's singleton at 120 min, and the NULL
    # user_id key's singleton at 2 min (an ordinary group).  The 600-min
    # flusher event itself stays in state (not yet watermark-final).
    base, m = 1767225600000, 60 * 1000
    assert got == {
        (1, base, base + 1 * m, 2, 1.0),
        (1, base + 120 * m, base + 120 * m, 1, 4.0),
        (None, base + 2 * m, base + 2 * m, 1, 3.0),
        # SUM over only NULLs is NULL, not 0.0 (SQL semantics)
        (2, base, base + 1 * m, 2, None),
    }


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization over a replayed events stream:
    closed sessions must match the batch sessionizer's session count."""
    import pyspark.sql.functions as SF
    from cqi_engine.streaming.stateful import sessionize_stream

    src = str(tmp_path / "events_in")
    # replay in event-time order: each chunk covers a disjoint ascending
    # time range (random file order would put events under the watermark
    # of an earlier batch and they would be legitimately dropped)
    ev0 = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ordered = ev0.orderBy("ts").withColumn(
        "chunk", SF.ntile(4).over(
            __import__("pyspark").sql.window.Window.orderBy("ts")))
    import os
    stamped: set[str] = set()
    for c in (1, 2, 3, 4):
        (ordered.filter(SF.col("chunk") == c).drop("chunk")
         .coalesce(1).write.mode("append").parquet(src))
        # FileStreamSource orders by mtime; sequential writes can tie on
        # the same tick and scramble replay — stamp strictly increasing
        for fname in os.listdir(src):
            p = os.path.join(src, fname)
            if p not in stamped and os.path.isfile(p):
                os.utime(p, (1_600_000_000 + c * 60,) * 2)
                stamped.add(p)

    stream = (spark.readStream
              .schema(ev0.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(stream).writeStream
         .outputMode("append").format("memory").queryName("sessions")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.sql(
        "select user_id, count(*) as closed from sessions group by user_id")
    closed_counts = {r["user_id"]: r["closed"] for r in got.collect()}

    # batch truth (exact): a session is emitted iff the watermark PROVES
    # it final — session_end + gap < final watermark (global max ts minus
    # the 2 h delay).  A gap alone never closes a session: a later batch
    # may still deliver a within-watermark event adjacent to it.
    import pandas as pd
    ev = spark.read.parquet(src).select(
        "user_id", SF.unix_millis(SF.col("ts").cast("timestamp")).alias("ms")
    ).toPandas()
    gap = 30 * 60 * 1000
    wm_final = ev["ms"].max() - 2 * 3600 * 1000
    want = {}
    for uid, grp in ev.groupby("user_id"):
        ms = sorted(grp["ms"])
        ends, last = [], ms[0]
        for m in ms[1:]:
            if m - last > gap:
                ends.append(last)
            last = m
        ends.append(last)
        closed = sum(1 for e in ends if e + gap < wm_final)
        if closed:
            want[uid] = closed

    assert closed_counts == want


def test_stateful_sessionize_late_within_watermark(spark, tmp_path):
    """Late-but-within-watermark events are DELIVERED by Spark, not
    dropped.  The sessionizer used to treat the newest arrival as the
    session tail, so a late event REGRESSED the session clock and the
    next on-time event spuriously split the session.  Pinned via the
    interval-merge semantics: batch 1 opens [0, 25 min]; batch 2
    delivers a late 10-min event (inside the span) plus a 50-min event
    (25 min after the true tail, under the 30-min gap) — one session
    [0, 50 min] of 4 events, closed by the watermark a batch-3 far-
    future event pushes past its timeout.  The old code emitted two
    wrong sessions ([0, 10] and [50, 50])."""
    import datetime

    from cqi_engine.streaming.stateful import sessionize_stream

    ts = (lambda m: datetime.datetime(2026, 1, 1)
          + datetime.timedelta(minutes=m))
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    batches = [
        [(0, ts(0), 1, "a", 1.0, None), (1, ts(25), 1, "a", 2.0, None)],
        [(2, ts(10), 1, "a", 4.0, None), (3, ts(50), 1, "a", 8.0, None)],
        [(4, ts(600), 1, "a", 0.5, None)],   # pushes the watermark
    ]
    src = str(tmp_path / "late_in")
    # FileStreamSource orders files by modification time; sequential
    # writes can land in the same mtime tick, and if the watermark-
    # pushing batch 3 sorted before batch 2 the late events would be
    # (legitimately) dropped.  Stamp each batch's files with strictly
    # increasing mtimes so replay order is the written order.
    import os
    stamped: set[str] = set()
    for i, rows in enumerate(batches):
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.mode("append").parquet(src))
        for fname in os.listdir(src):
            p = os.path.join(src, fname)
            if p not in stamped and os.path.isfile(p):
                os.utime(p, (1_600_000_000 + i * 60,) * 2)
                stamped.add(p)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (sessionize_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName("late_sessions")
         .option("checkpointLocation", str(tmp_path / "late_ck"))
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
    got = sorted(tuple(r) for r in spark.table("late_sessions").collect())
    base, m = 1767225600000, 60 * 1000   # 2026-01-01T00:00Z in epoch ms
    assert got == [(1, base, base + 50 * m, 4, 15.0)]


# -------------------------------------------------------- geojson scan ----
def test_distributed_geojson_scan(spark, tmp_path):
    """S1 at scale: GeoJSONL -> way table, parity with the driver-side
    reader on the reference fixture corpus."""
    from cqi_engine.io import read_geojson_lines
    from cqi_engine.sources.geojson_scan import (featurecollection_to_lines,
                                                 read_geojsonl)

    src = "/root/reference/data/test_ways/test_ways.geojson"
    lines_path = str(tmp_path / "ways.geojsonl")
    n = featurecollection_to_lines(src, lines_path)
    assert n >= 138

    df = read_geojsonl(spark, lines_path, ["id", "highway", "name"])
    rows = {r["id"]: r for r in df.collect()}
    ref = read_geojson_lines(src)  # LineStrings only
    assert len(rows) == len(ref)
    for _, want in ref.iterrows():
        got = rows[want["id"]]
        assert got["highway"] == want.get("highway")
        assert len(got["geom_lonlat"]) == len(want["geom_lonlat"])


# ------------------------------------------------- salted full pipeline ----
def test_salted_pipeline_identical_output(spark):
    """Flagship with explicit cell salting on == salting off, row for row."""
    from cqi_engine.sources.webways import ways_from_documents
    from cqi_engine.operators.pipeline import score_way_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def keyed(df):
        return {(r["id"], r["side"]): tuple(
            sorted((k, str(v)) for k, v in r.asDict().items()))
            for r in df.collect()}

    plain = keyed(score_way_table(ways_from_documents(docs)))
    # threshold 0.5: deliberately aggressive so MANY cells get salted
    salted = keyed(score_way_table(ways_from_documents(docs),
                                   salt_threshold=0.5))
    assert plain == salted


# ------------------------------------------------ 100x-hot-cell stress ----
def test_salted_dwithin_100x_hot_cell(spark):
    """Skew-STRESS correctness for the salted dwithin path: a synthetic
    fixture where one 64 m join cell holds >50% of all sampled points (the
    dense-city pathology the north_rule's explicit skew mechanism exists
    for — test_salted_pipeline_identical_output only exercises benign
    organic skew).  Asserts (a) the hot cell is detected and split k>1
    ways, (b) salted vs unsalted dwithin output is row-identical including
    multiplicity, (c) the salted plan actually contains the salt-replicate
    explode and a shuffled hash join."""
    import contextlib
    import io

    from cqi_engine.geometry import lonlat_to_metric
    from cqi_engine.operators import cells
    from cqi_engine.operators.pipeline import (dwithin_pairs,
                                               road_cell_index,
                                               sample_points)
    from cqi_engine.operators.skew import cell_histogram, hot_cells

    # anchor the hot square at the CENTER of its 64 m cell so the 20 m
    # cluster cannot straddle a cell boundary
    lat0, lon0 = 52.5, 13.4
    mlat = 1.0 / 111320.0
    mlon = 1.0 / (111320.0 * np.cos(np.radians(lat0)))
    x0, y0 = (float(v[0]) for v in lonlat_to_metric(
        np.array([lon0]), np.array([lat0])))
    size = cells.cell_size(cells.JOIN_RES)
    dx0 = (np.floor(x0 / size) * size + size / 2) - x0
    dy0 = (np.floor(y0 / size) * size + size / 2) - y0

    def seg(x_m, y_m, ddx, ddy):
        # meters (relative to the snapped cell center) -> lon/lat pair
        x = x_m + dx0 - 10.0
        y = y_m + dy0 - 10.0
        return [[float(lon0 + x * mlon), float(lat0 + y * mlat)],
                [float(lon0 + (x + ddx) * mlon),
                 float(lat0 + (y + ddy) * mlat)]]

    paths = [(f"hot{i}", None, seg((i % 12) * 1.5, (i // 12) * 1.8, 4.0, 0.0))
             for i in range(120)]           # 240 points in one cell
    paths += [(f"cold{i}", None, seg(1000.0 + i * 250.0, 500.0, 4.0, 0.0))
              for i in range(80)]           # 160 points, ~1 cell each
    pschema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("layer", T.StringType()),
        T.StructField("geom_lonlat",
                      T.ArrayType(T.ArrayType(T.DoubleType())))])
    paths_df = spark.createDataFrame(paths, pschema)

    roads = [(f"hr{j}", "residential", f"HotSt{j}", 30.0, None,
              seg(-3.0, j * 3.0 + 0.5, 26.0, 0.0)) for j in range(6)]
    roads += [(f"cr{i}", "residential", f"ColdSt{i}", 50.0, None,
               seg(1000.0 + i * 250.0, 508.0, 4.0, 0.0))
              for i in range(0, 80, 4)]
    rschema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("highway", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("maxspeed", T.DoubleType()),
        T.StructField("layer", T.StringType()),
        T.StructField("geom_lonlat",
                      T.ArrayType(T.ArrayType(T.DoubleType())))])
    roads_df = spark.createDataFrame(roads, rschema)

    points = sample_points(paths_df).persist()
    rcells = road_cell_index(roads_df).persist()

    # fixture property: one cell really holds the majority of all points
    hist = cell_histogram(points).collect()
    total = sum(r["cell_n"] for r in hist)
    assert max(r["cell_n"] for r in hist) > 0.5 * total
    # ... and the skew detector splits it more than one way
    hot = hot_cells(cell_histogram(points), threshold=4.0).collect()
    assert len(hot) >= 1 and max(r["salt_k"] for r in hot) > 1

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    plain = rows(dwithin_pairs(points, rcells, salt_threshold=None))
    salted_df = dwithin_pairs(points, rcells, salt_threshold=4.0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        salted_df.explain()  # simple mode: operators inline with args
    plan = buf.getvalue()
    assert "ShuffledHashJoin" in plan
    assert "Generate explode(salts" in plan  # replicate_index salt fan-out
    salted = rows(salted_df)
    assert len(plain) > 0
    assert plain == salted  # identical incl. multiplicity
    points.unpersist()
    rcells.unpersist()


# -------------------------------------------------- media pipeline twin ----
def test_media_pipeline_python_matches_sql_twin(spark):
    """The three mapInPandas media operators (decode, resize, frame-sample)
    and the SQL hash-arithmetic twin must agree attribute for attribute
    (same sha256-derived values, same resize bytes, same sampled-frame
    multiplicity and frame-0 content).  The twin is not a graded catalog
    entry (driver caps at 50 queries) but its Spark-dialect template
    remains the parity witness here."""
    from cqi_engine.queries.catalog import (CATALOG, run_query,
                                            _media_pipeline_sql)
    from cqi_engine.operators.dialect import SPARK

    py = {r["doc_id"]: r for r in
          run_query(spark, "/root/testdata/sf0.001",
                    CATALOG["media_pipeline"]).collect()}
    spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).createOrReplaceTempView("documents")
    sql = {r["doc_id"]: r for r in
           spark.sql(_media_pipeline_sql(SPARK)).collect()}
    assert set(py) == set(sql)
    n_videos = 0
    for doc_id, a in py.items():
        b = sql[doc_id]
        assert a["n_bytes"] == b["n_bytes"]
        assert a["media_type"] == b["media_type"]
        assert (a["width"], a["height"], a["n_frames"]) == \
            (b["width"], b["height"], b["n_frames"])
        for i in range(8):
            assert a[f"feature_{i}"] == b[f"feature_{i}"]
        assert (a["resized_n_bytes"], a["resized_hex"]) == \
            (b["resized_n_bytes"], b["resized_hex"])
        assert (a["n_sampled"], a["sum_frame_idx"], a["frame0_hex"]) == \
            (b["n_sampled"], b["sum_frame_idx"], b["frame0_hex"])
        if a["media_type"] == "video/mp4":
            n_videos += 1
            assert a["n_sampled"] >= 1 and a["frame0_hex"] is not None
        else:
            assert a["n_sampled"] == 0 and a["frame0_hex"] is None
    # the corpus must actually exercise the video path
    assert n_videos > 0


def test_media_resize_plumbing(spark):
    """resize_media: binary->binary Arrow map with recomputed metadata —
    byte-deterministic, every row resized, no shuffle in the plan."""
    import hashlib

    from cqi_engine.operators.media import resize_media, _decode_payload

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = resize_media(docs, 128, 96)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count()
    src = {r["doc_id"]: r["text"].encode() for r in
           docs.select("doc_id", "text").collect()}
    for doc_id, r in rows.items():
        assert (r["width"], r["height"]) == (128, 96)
        assert r["media_type"] == _decode_payload(src[doc_id])["media_type"]
        seed = hashlib.sha256(src[doc_id] + b":128x96").digest()
        n_out = max(16, (128 * 96) // 256)
        assert bytes(r["payload"]) == (seed * (n_out // 32 + 1))[:n_out]
    assert "Exchange" not in out._jdf.queryExecution() \
        .executedPlan().toString()


def test_media_frame_sampling_plumbing(spark):
    """sample_frames: 1->N fan-out inside mapInPandas — only video rows
    survive, multiplicity is ceil(n_frames/k) exactly, frame bytes are the
    documented digest, and the plan stays a narrow map (no Exchange)."""
    import hashlib

    from cqi_engine.operators.media import sample_frames, _decode_payload

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = sample_frames(docs, every_k=40)
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r)
    src = {r["doc_id"]: r["text"].encode() for r in
           docs.select("doc_id", "text").collect()}
    n_videos = 0
    for doc_id, payload in src.items():
        meta = _decode_payload(payload)
        if meta["media_type"] != "video/mp4":
            assert doc_id not in got
            continue
        n_videos += 1
        frames = sorted(got[doc_id], key=lambda r: r["frame_idx"])
        expect_idx = list(range(0, meta["n_frames"], 40))
        assert [f["frame_idx"] for f in frames] == expect_idx
        for f in frames:
            assert f["n_frames"] == meta["n_frames"]
            assert bytes(f["frame"]) == hashlib.sha256(
                payload + int(f["frame_idx"]).to_bytes(4, "big")).digest()
    assert n_videos > 0 and set(got) == {
        d for d, p in src.items()
        if _decode_payload(p)["media_type"] == "video/mp4"}
    assert "Exchange" not in out._jdf.queryExecution() \
        .executedPlan().toString()


def test_media_round_parity_exhaustive():
    """Python round(k/255, 6) (banker's) == SQL HALF_UP round for every
    possible byte value — the invariant the media_decode oracle rests on."""
    import duckdb

    con = duckdb.connect()
    sql_vals = dict(con.sql(
        "select i, round(i/255.0, 6) from range(0,256) t(i)").fetchall())
    for k in range(256):
        assert round(k / 255.0, 6) == sql_vals[k], k


# ------------------------------------------- embedding near-dup operators ----
def test_neardup_blocked_equals_allpairs(spark):
    """Tiled-GEMM candidate generation + exact verify == all-pairs result,
    including across block boundaries (block=64 forces many tiles)."""
    import numpy as np
    from cqi_engine.operators.ann import neardup_candidates_blocked

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    iu = np.triu_indices(len(V), 1)
    truth = {(int(min(ids[a], ids[b])), int(max(ids[a], ids[b])))
             for a, b, c in zip(iu[0], iu[1], C[iu]) if c >= 0.35}

    cand = {(r["vec_a"], r["vec_b"]) for r in
            neardup_candidates_blocked(emb, 0.35, block=64).collect()}
    assert truth <= cand  # margin guarantees no true pair is dropped
    # margin admits at most boundary-epsilon extras, none on this corpus
    assert len(cand) - len(truth) <= 3


def test_ngram_gemm_vocab_guard_bounded(spark, monkeypatch):
    """The over-cap fallback fires from a LIMIT-bounded probe: the driver
    collects at most cap+1 distinct shingles, never the full vocabulary
    (round-2 verdict defect: the old guard collected everything first)."""
    from cqi_engine.operators import ngram

    docs = spark.createDataFrame(
        [(i, [f"s{i}_{j}" for j in range(5)]) for i in range(20)],
        "doc_id long, grams array<string>")  # 100 distinct shingles
    monkeypatch.setattr(ngram, "MAX_GEMM_VOCAB", 3)
    assert ngram.shingle_pairs_gemm(docs, 0.5) is None
    # under the cap the GEMM path engages and still returns exact pairs
    dup = spark.createDataFrame(
        [(0, ["a_b", "b_c"]), (1, ["a_b", "b_c"]), (2, ["x_y"])],
        "doc_id long, grams array<string>")
    monkeypatch.setattr(ngram, "MAX_GEMM_VOCAB", 10)
    got = {(r["doc_a"], r["doc_b"], r["inter"], r["union"])
           for r in ngram.shingle_pairs_gemm(dup, 0.5).collect()}
    assert (0, 1, 2, 2) in got


def test_recall_artifact_fresh():
    """RECALL.md must equal a fresh measurement — the recorded recall of
    the sub-quadratic near-dup variants cannot drift silently."""
    import importlib.util
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_recall_artifact",
        os.path.join(root, "scripts", "gen_recall_artifact.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    with open(os.path.join(root, "RECALL.md"), encoding="utf-8") as fh:
        text = fh.read()
    recorded = {(m[0], m[1]): (int(m[2]), int(m[3]), float(m[4]))
                for m in re.findall(
                    r"\| `(\w+)` \| ([\d.]+) \| (\d+) \| (\d+) \| ([\d.]+) \|",
                    text)}
    fresh = {(r["variant"], r["sf"]):
             (r["exact_pairs"], r["pairs"], r["recall"])
             for d in gen.SF_DIRS for r in gen.measure(d)}
    assert recorded == fresh


def test_embed_neardup_lsh_recall_measured(spark):
    """The LSH-table path is recall-bounded by design; record the measured
    recall vs the exact entry so the trade-off is explicit, not silent."""
    from cqi_engine.queries.catalog import CATALOG, run_query

    sf = "/root/testdata/sf0.01"
    exact = {(r["vec_a"], r["vec_b"]) for r in
             run_query(spark, sf, CATALOG["embed_neardup"]).collect()}
    lsh = {(r["vec_a"], r["vec_b"]) for r in
           run_query(spark, sf, CATALOG["embed_neardup_lsh"]).collect()}
    assert lsh <= exact  # exact-verify step: no false positives, ever
    recall = len(lsh) / len(exact)
    # qualifying pairs on this corpus sit at cosine 0.35-0.6 (~69 deg) —
    # hyperplane collision is rare by construction; at the thresholds LSH
    # is built for (>=0.9) recall would be near 1.  Just pin the floor.
    assert recall > 0.05, recall


# ------------------------------------------------------- cell hierarchy ----
def test_cell_hierarchy_roundtrip():
    from cqi_engine.operators import cells

    for x, y in [(0.5, 0.5), (12345.6, 98765.4), (-500.0, 33.3)]:
        c = int(cells.cell_id_np(np.array([x]), np.array([y]))[0])
        res, ix, iy = cells.decode_cell(c)
        assert res == cells.JOIN_RES
        s = cells.cell_size(res)
        assert ix * s <= x < (ix + 1) * s
        assert iy * s <= y < (iy + 1) * s
        # parent contains the child
        p = cells.parent_cell(c, cells.AGG_RES)
        pres, pix, piy = cells.decode_cell(p)
        ps = cells.cell_size(pres)
        assert pix * ps <= x < (pix + 1) * ps
        # numpy batch variant agrees
        assert int(cells.parent_cell_np(np.array([c]),
                                        cells.AGG_RES)[0]) == p
        # the cell is inside its own grid_disk, with (2k+1)^2 members
        disk = cells.grid_disk(c, 2)
        assert c in disk and len(disk) == 25
        # boundary ring is closed and encloses the point
        ring = cells.cell_boundary_metric(c)
        assert (ring[0] == ring[-1]).all()
        assert ring[:, 0].min() <= x <= ring[:, 0].max()


# ------------------------------------------------- connected components ----
def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to canonical minimum
    return {x: find(x) for x in parent}


def test_connected_components_matches_union_find(spark):
    from cqi_engine.operators.components import connected_components

    import random
    rng = random.Random(7)
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r["node"]: r["component"]
           for r in connected_components(edges).collect()}
    want = _union_find(pairs)
    # canonical labels must be the component-minimum node everywhere
    assert got == {n: want[n] for n in got}


def test_dedup_canonical_on_near_dup_graph(spark):
    """End-to-end: minhash candidate pairs -> components -> canonical keep
    set; every component keeps exactly one canonical doc."""
    from cqi_engine.operators.components import dedup_canonical
    from cqi_engine.queries.catalog import CATALOG, run_query

    pairs = run_query(spark, "/root/testdata/sf0.01",
                      CATALOG["dedup_minhash_lsh"]).select("doc_a", "doc_b")
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = dedup_canonical(pairs, docs).persist()
    n_docs = docs.count()
    assert out.count() == n_docs
    per_comp = (out.groupBy("component")
                .agg(F.sum("is_canonical").alias("n_canon")))
    bad = per_comp.filter(F.col("n_canon") != 1).count()
    assert bad == 0
    # kept set: canonical rows only; every duplicate maps to a kept doc
    kept = {r["doc_id"] for r in
            out.filter(F.col("is_canonical") == 1).collect()}
    comp_of = {r["doc_id"]: r["component"] for r in out.collect()}
    assert all(comp_of[d] in kept for d in comp_of)


# ----------------------------------------------------------- warc source ----
def test_warc_roundtrip_and_score(spark, tmp_path):
    """pages -> WARC file -> distributed scan -> pages: byte-identical
    text per url, and the scanned pages score to the golden 164 rows."""
    from cqi_engine.io import read_geojson_lines
    from cqi_engine.operators.pipeline import score_pages
    from cqi_engine.sources.pages import synthesize_pages_pdf
    from cqi_engine.sources.warc import read_warc, write_warc

    ways = read_geojson_lines(
        "/root/reference/data/test_ways/test_ways.geojson").drop(
        columns=["geom_metric"])
    pdf = synthesize_pages_pdf(ways)
    path = str(tmp_path / "crawl.warc")
    assert write_warc(pdf, path) == 138

    pages = read_warc(spark, path)
    got = {r["url"]: r for r in pages.collect()}
    assert len(got) == 138
    for _, row in pdf.iterrows():
        r = got[row["url"]]
        assert r["text"].encode("utf-8") == row["text"].encode("utf-8")
        assert r["lang"] == row["lang"]

    assert score_pages(pages).count() == 164


def test_warc_scan_quarantines_corrupt_records(spark, tmp_path):
    """Real crawls carry corrupt records: a malformed WARC-Date used to
    raise DateParseError inside the scan and kill the task for the whole
    byte range.  Pinned: garbage between delimiters is dropped, a record
    with a corrupt date survives with a NULL warc_ts, a record with no
    Target-URI is dropped (url is the pages table's non-null key), and
    well-formed records are untouched."""
    from cqi_engine.sources.warc import _DELIM, read_warc

    good = ("WARC/1.0\r\n"
            "WARC-Type: conversion\r\n"
            "WARC-Target-URI: http://ok.example/1\r\n"
            "WARC-Date: 2026-01-01T00:00:00\r\n"
            "X-Crawler-Language: en\r\n"
            "\r\npayload ok")
    bad_date = ("WARC/1.0\r\n"
                "WARC-Target-URI: http://baddate.example/2\r\n"
                "WARC-Date: not-a-date\r\n"
                "\r\npayload bad date")
    headerless = "WARC/1.0\r\n\r\norphan payload"
    garbage = "!!! random bytes, no warc marker !!!"
    path = str(tmp_path / "dirty.warc")
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(_DELIM.join([good, garbage, bad_date, headerless]))

    rows = {r["url"]: r for r in read_warc(spark, path).collect()}
    assert len(rows) == 2  # garbage and the keyless record dropped
    assert rows["http://ok.example/1"]["text"] == "payload ok"
    assert rows["http://ok.example/1"]["warc_ts"] is not None
    assert rows["http://baddate.example/2"]["warc_ts"] is None
    assert rows["http://baddate.example/2"]["text"] == "payload bad date"


def test_geojsonl_scan_drops_invalid_linestrings(spark, tmp_path):
    """S1 validity parity with the reference's OGR loader: malformed JSON
    lines, non-LineString geometries, NULL coordinate arrays, and
    single-position LineStrings (invalid per the GeoJSON spec) are all
    dropped by the scan — the geometry kernels never see a degenerate
    vertex list."""
    from cqi_engine.sources.geojson_scan import read_geojsonl

    lines = [
        '{"type":"Feature","properties":{"highway":"path"},"geometry":'
        '{"type":"LineString","coordinates":[[13.1,52.1],[13.2,52.2]]}}',
        'NOT JSON',
        '{"type":"Feature","properties":{},"geometry":'
        '{"type":"Polygon","coordinates":[[[1,2],[3,4]]]}}',
        '{"type":"Feature","properties":{"highway":"x"},"geometry":'
        '{"type":"LineString","coordinates":null}}',
        '{"type":"Feature","properties":{"highway":"y"},"geometry":'
        '{"type":"LineString","coordinates":[[13.0,52.0]]}}',
        '{"type":"Feature","properties":{"highway":"z"},"geometry":'
        '{"type":"LineString"}}',
    ]
    p = str(tmp_path / "dirty.geojsonl")
    with open(p, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
    out = read_geojsonl(spark, p, ["highway"]).collect()
    assert [(r["highway"], r["geom_lonlat"]) for r in out] == \
        [("path", [[13.1, 52.1], [13.2, 52.2]])]


def test_geojsonl_scan_position_validity_and_3d(spark, tmp_path):
    """Inner positions get the same care as the outer array: a null
    position or a 1-element position drops the feature (they would
    crash or corrupt the vectorized kernels), while a spec-valid 3D
    (lon, lat, elevation) position keeps the feature with the elevation
    sliced off — what OGR does."""
    from cqi_engine.sources.geojson_scan import read_geojsonl

    lines = [
        '{"type":"Feature","properties":{"highway":"null_pos"},"geometry":'
        '{"type":"LineString","coordinates":[[13.1,52.5],null]}}',
        '{"type":"Feature","properties":{"highway":"short_pos"},"geometry":'
        '{"type":"LineString","coordinates":[[13.1,52.5],[13.2]]}}',
        '{"type":"Feature","properties":{"highway":"three_d"},"geometry":'
        '{"type":"LineString","coordinates":'
        '[[13.1,52.5,34.0],[13.2,52.6,35.0]]}}',
        '{"type":"Feature","properties":{"highway":"null_ord"},"geometry":'
        '{"type":"LineString","coordinates":[[null,52.5],[13.2,52.6]]}}',
    ]
    p = str(tmp_path / "pos.geojsonl")
    with open(p, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines))
    out = read_geojsonl(spark, p, ["highway"]).collect()
    assert [(r["highway"], r["geom_lonlat"]) for r in out] == \
        [("three_d", [[13.1, 52.5], [13.2, 52.6]])]


def test_geojsonl_scan_odd_tag_names(spark, tmp_path):
    """Tag names reach the scan's SQL text as map key literals (the
    packed-tag key filter) and as column identifiers: quotes, backticks
    and backslashes must survive both (Spark drops an unknown escape's
    backslash)."""
    import json

    from cqi_engine.sources.geojson_scan import read_geojsonl

    tags = ["it's", "back`tick", "c:\\x", "a\\'b`", "dot.ted"]
    props = {t: f"v{i}" for i, t in enumerate(tags)}
    p = str(tmp_path / "odd.geojsonl")
    with open(p, "w", encoding="utf-8") as fh:
        fh.write(json.dumps({
            "type": "Feature", "properties": {**props, "highway": "path"},
            "geometry": {"type": "LineString",
                         "coordinates": [[13.1, 52.1], [13.2, 52.2]]}}))
    df = read_geojsonl(spark, p, tags + ["absent"])
    assert df.columns == ["__tags", "geom_lonlat"]
    [row] = df.collect()
    packed = json.loads(row["__tags"])
    assert packed == props          # exact values; absent and unrequested
    assert "absent" not in packed   # (highway) keys are left out
    # a tag Spark-side operators read comes out as a real column
    df = read_geojsonl(spark, p, ["highway", "dot.ted"])
    assert df.columns == ["highway", "__tags", "geom_lonlat"]
    [row] = df.collect()
    assert row["highway"] == "path"
    assert json.loads(row["__tags"]) == {"dot.ted": props["dot.ted"]}


def test_spark_quote_round_trips(spark):
    """spark_quote's literal and identifier forms parse back to the exact
    text, control characters included."""
    from cqi_engine.operators.dialect import spark_quote as Q

    texts = ["plain", "it's", "c:\\x", "\\", "'\\'", "\x00null",
             "tab\there", "back`tick", "ünï ✓"]
    row = spark.sql("SELECT " + ", ".join(
        f"{Q(t)} AS {Q(f'c{i}', ident=True)}"
        for i, t in enumerate(texts))).collect()[0]
    assert list(row) == texts
    assert spark.sql("SELECT 1 AS " + ", 2 AS ".join(
        Q(t, ident=True) for t in texts[:2] + texts[-2:])).columns == \
        texts[:2] + texts[-2:]


# ------------------------------------------------- multi-file merge (S2) ----
def test_merge_way_files_dedupes_geometries(spark, tmp_path):
    """S2: merge N way files, drop duplicate geometries
    (ref:cycling_quality_index.py:1817-1833 semantics)."""
    from cqi_engine.sources.geojson_scan import (featurecollection_to_lines,
                                                 merge_way_files)

    src = "/root/reference/data/test_ways/test_ways.geojson"
    p1 = str(tmp_path / "a.geojsonl")
    p2 = str(tmp_path / "b.geojsonl")
    featurecollection_to_lines(src, p1)
    featurecollection_to_lines(src, p2)  # identical second import file

    merged = merge_way_files(spark, [p1, p2], ["id", "highway"])
    assert merged.count() == 138  # duplicates across files collapsed
    ids = [r["id"] for r in merged.select("id").collect()]
    assert len(set(ids)) == 138


def test_merge_way_files_keeps_first_by_import_order(spark, tmp_path):
    """deleteduplicategeometries keeps the FIRST feature in layer order;
    when two imports carry the same geometry with different tags, the
    survivor's tags must come from the earlier file deterministically —
    dropDuplicates would keep whichever row a shuffle delivered first."""
    import json

    import pytest

    from cqi_engine.sources.geojson_scan import merge_way_files

    def feat(highway):
        return json.dumps({
            "type": "Feature", "properties": {"highway": highway},
            "geometry": {"type": "LineString",
                         "coordinates": [[13.1, 52.5], [13.2, 52.6]]}})

    p1 = str(tmp_path / "imp1.geojsonl")
    p2 = str(tmp_path / "imp2.geojsonl")
    with open(p1, "w", encoding="utf-8") as fh:
        fh.write(feat("path") + "\n")
    with open(p2, "w", encoding="utf-8") as fh:
        fh.write(feat("cycleway") + "\n")

    for _ in range(3):  # stable across repeated plans/shuffles
        out = merge_way_files(spark, [p1, p2], ["highway"]).collect()
        assert [r["highway"] for r in out] == ["path"]
    # reversed import order flips the survivor — it IS order-defined
    out = merge_way_files(spark, [p2, p1], ["highway"]).collect()
    assert [r["highway"] for r in out] == ["cycleway"]

    with pytest.raises(ValueError):
        merge_way_files(spark, [], ["highway"])


def test_merge_way_files_directory_path_keeps_file_name_order(spark,
                                                              tmp_path):
    """A path entry that expands to several files (directory import):
    Spark packs file splits by size DESCENDING, so a position-only key
    would crown the duplicate from the LARGEST part file as 'first'.
    The survivor must follow file-NAME order (the writer convention) —
    pinned with a small first-named file and a much larger second one."""
    import json

    from cqi_engine.sources.geojson_scan import merge_way_files

    def feat(highway, coords=None):
        return json.dumps({
            "type": "Feature", "properties": {"highway": highway},
            "geometry": {"type": "LineString",
                         "coordinates": coords
                         or [[13.1, 52.5], [13.2, 52.6]]}})

    d = tmp_path / "imp_dir"
    d.mkdir()
    # part-00000: one duplicate-geometry feature, tiny file
    (d / "part-00000.geojsonl").write_text(feat("first") + "\n",
                                           encoding="utf-8")
    # part-00001: the same geometry with different tags plus bulk filler
    # features so this file is LARGER (size-desc packing scans it first)
    filler = [feat(f"f{k}", [[13.1 + k, 52.5], [13.2 + k, 52.6]])
              for k in range(1, 200)]
    (d / "part-00001.geojsonl").write_text(
        feat("second") + "\n" + "\n".join(filler) + "\n", encoding="utf-8")

    for _ in range(3):
        out = merge_way_files(spark, [str(d)], ["highway"]).collect()
        dup = [r["highway"] for r in out
               if r["geom_lonlat"] == [[13.1, 52.5], [13.2, 52.6]]]
        assert dup == ["first"]
        assert len(out) == 200  # 1 survivor + 199 filler


# ------------------------------------------------------ S5 QML style sink ----
def test_style_table_matches_reference_qml():
    """INDEX_STYLE_RANGES must equal the reference renderer verbatim —
    parse /root/reference/styles/index.qml and compare class bounds,
    symbols, labels, and line colors."""
    import re

    from cqi_engine.sources.qml_style import INDEX_STYLE_RANGES

    xml = open("/root/reference/styles/index.qml", encoding="utf-8").read()
    block = re.search(r"<renderer-v2 .*?</renderer-v2>", xml, re.S).group(0)
    ranges = [
        (float(m.group(1)), float(m.group(2)), int(m.group(3)), m.group(4))
        for m in re.finditer(
            r'<range lower="([\d.]+)" upper="([\d.]+)" symbol="(\d+)" '
            r'render="true" label="([^"]+)"', block)]
    sym_colors = {}
    for m in re.finditer(
            r'<symbol name="(\d+)".*?line_color" type="QString" '
            r'value="([\d,]+)"', block, re.S):
        sym_colors.setdefault(int(m.group(1)), tuple(
            int(x) for x in m.group(2).split(",")))
    assert len(ranges) == len(INDEX_STYLE_RANGES) == 11
    for (lo, up, sym, lbl, rgba), (rlo, rup, rsym, rlbl) in zip(
            INDEX_STYLE_RANGES, ranges):
        assert (lo, up, sym, lbl) == (rlo, rup, rsym, rlbl)
        assert rgba == sym_colors[sym], sym


def test_style_layer_and_qml_roundtrip(spark, tmp_path):
    from cqi_engine.sources.qml_style import style_layer, write_qml

    df = spark.createDataFrame(
        [("a", 0), ("b", 10), ("c", 46), ("d", 95), ("e", 100), ("f", None)],
        "id string, index int")
    rows = {r["id"]: r for r in style_layer(df).collect()}
    assert rows["a"]["style_symbol"] == 0          # first range keeps lower
    assert rows["b"]["style_symbol"] == 0          # 10 -> first match 0-10
    assert rows["c"]["style_symbol"] == 4
    assert rows["c"]["style_color"] == "#f3cf33"
    assert rows["d"]["style_symbol"] == 9
    assert rows["e"]["style_symbol"] == 9          # 100 -> 90-100 first
    assert rows["f"]["style_symbol"] is None
    assert rows["c"]["style_label"] == "40 - 50"

    out = tmp_path / "index.qml"
    write_qml(str(out))
    text = out.read_text(encoding="utf-8")
    assert 'attr="index"' in text and "122,4,3,255" in text
    assert text.count("<range ") == 11


def test_realistic_offsets_through_spark_pipeline(spark):
    """G2 end-to-end distributed: score_way_table(offset_distance=
    'realistic') must emit side rows whose `offset` column carries the
    width-derived distance (width/2 for cycleways, +2 m for sidewalks)."""
    from cqi_engine.operators.pipeline import score_way_table

    base = ("id string, highway string, width string, "
            "`cycleway:right` string, `sidewalk:bicycle` string, "
            "layer string, name string, maxspeed string, footway string, "
            "is_sidepath string, `is_sidepath:of` string, "
            "geom_lonlat array<array<double>>")
    ways = spark.createDataFrame(
        [("w1", "residential", None, "lane", None, None, None, None,
          None, None, None, [[13.4, 52.5], [13.401, 52.5]]),
         ("w2", "primary", "8", None, "yes", None, None, None,
          None, None, None, [[13.41, 52.5], [13.411, 52.5]])],
        base)
    out = score_way_table(ways, offset_distance="realistic") \
        .select("id", "side", "offset").collect()
    got = {(r["id"], r["side"]): r["offset"] for r in out}
    # residential default width 11 -> cycleway offset 5.5 (right side row)
    assert got[("w1", "right")] == 5.5
    # width=8 -> sidewalk offset 8/2 + 2 = 6 on both sides
    assert got[("w2", "left")] == 6.0 and got[("w2", "right")] == 6.0
    # centerline rows have no offset attribute (golden contract: only
    # synthesized side rows carry one)
    assert got[("w1", None)] is None and got[("w2", None)] is None


@pytest.mark.parametrize("corpus", ["reference", "repo"])
def test_fused_ways_match_unfused_extract_bitwise(spark, request, corpus):
    """The fused doc_id -> way synthesis (direct geometry assembly from the
    per-fixture template) must equal the unfused pages -> extract_ways path
    row-for-row, geometry bit-exact, across clone blocks (clone 0, 1, 2),
    and both must hand score_way_table the scan's layout: url, the
    Spark-side tag columns, ``__tags`` and geom_lonlat — whatever tags the
    corpus uses (``repo``: a generated corpus without most of them)."""
    from cqi_engine import config as C
    from cqi_engine.operators.pipeline import WAY_TAG_COLUMNS
    from cqi_engine.sources import webways
    from cqi_engine.sources.geojson_scan import PACKED_TAGS
    from cqi_engine.sources.pages import extract_ways

    if corpus == "repo":
        request.getfixturevalue("repo_way_corpus")
    n_fix = len(webways.fixture_way_records())
    docs = spark.range(0, 2 * n_fix + 17).withColumnRenamed("id", "doc_id")

    layout = (["url"] + [c for c in WAY_TAG_COLUMNS
                         if c in C.SPARK_TAG_COLUMNS]
              + [PACKED_TAGS, "geom_lonlat"])
    fused_df = webways.ways_from_documents(docs)
    unfused_df = extract_ways(webways.pages_from_documents(docs),
                              WAY_TAG_COLUMNS)
    assert fused_df.columns == unfused_df.columns == layout
    fused = {r["url"]: r for r in fused_df.collect()}
    unfused = {r["url"]: r for r in unfused_df.collect()}
    assert set(fused) == set(unfused) and len(fused) == 2 * n_fix + 17

    for url, fr in fused.items():
        ur = unfused[url]
        for c in layout[:-1]:
            assert fr[c] == ur[c], (url, c, fr[c], ur[c])
        flat_unfused = np.asarray(
            [v for pt in ur["geom_lonlat"] for v in pt], dtype=float)
        np.testing.assert_array_equal(
            np.asarray(fr["geom_lonlat"], dtype=float), flat_unfused)
    assert any(r[PACKED_TAGS] for r in fused.values())


def test_lsh_arrow_buckets_match_sql_template_on_degenerate_vectors(
        spark, tmp_path):
    """The embed_neardup_lsh Arrow bucket pass must reproduce the pure-SQL
    template's buckets BIT-FOR-BIT on the degenerate inputs where numpy
    and SQL semantics diverge by default: a NaN component (NaN > 0 is
    TRUE in both SQL dialects, false in numpy), a NULL element
    (NULL-poisons the SQL fold -> bucket bit 0; Arrow would lossily
    deliver it as NaN, so the flag is computed JVM-side), and a NULL
    embedding (whole fold NULL -> bucket 0, and np.vstack must never see
    it)."""
    import cqi_engine.queries.catalog as C

    base = [float(i % 7 - 3) / 3.0 for i in range(64)]
    nan_vec = list(base); nan_vec[10] = float("nan")
    null_vec = list(base); null_vec[20] = None
    rows = [(1, base), (2, nan_vec), (3, null_vec), (4, None)]
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "vec_id bigint, embedding array<float>") \
        .write.mode("overwrite").parquet(f"{sf}/embeddings.parquet")

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    emb.createOrReplaceTempView("embeddings")
    per_table = " union all ".join(
        f"select vec_id, {t} as tbl, "
        f"{C._lsh_table_bucket(C.SPARK, t)} as bucket from embeddings"
        for t in range(C._LSH_TABLES))
    want = sorted(tuple(r) for r in spark.sql(per_table).collect())

    C._embed_neardup_lsh_fn(spark, sf).count()
    got = sorted(tuple(r) for r in spark.table("lsh_buckets").collect())
    assert want == got


def test_extract_ways_quarantines_pages_without_geometry(spark):
    """A page whose envelope parses but carries no usable `geom:` line
    (truncated crawl record) must be quarantined at extraction — a None
    geometry would reach the vectorized samplers as len(None) and kill
    the task.  Same position contract as the GeoJSONL scan: >= 2
    positions of >= 2 numbers each, 3D positions sliced to XY."""
    from cqi_engine.sources.pages import extract_ways, way_to_text

    good = way_to_text("w_ok", {"highway": "path"},
                       [[13.1, 52.5], [13.2, 52.6]])
    no_geom = good.replace("geom: [[13.1, 52.5], [13.2, 52.6]]\n", "")
    one_pt = way_to_text("w_one", {"highway": "path"}, [[13.1, 52.5]])
    # a 3D envelope comes from a foreign crawler, not our encoder —
    # splice the elevation-carrying geom line in by hand
    three_d = way_to_text("w_3d", {"highway": "path"},
                          [[13.1, 52.5], [13.2, 52.6]]).replace(
        "geom: [[13.1, 52.5], [13.2, 52.6]]",
        "geom: [[13.1, 52.5, 34.0], [13.2, 52.6, 35.0]]")
    # non-numeric ordinates pass a shape-only guard and float(None) /
    # float("x") would then kill the task — must quarantine, not crash
    null_ord = good.replace("geom: [[13.1, 52.5]",
                            "geom: [[null, 52.5]")
    str_ord = good.replace("geom: [[13.1, 52.5]",
                           'geom: [["x", 52.5]')
    nested = good.replace("geom: [[13.1, 52.5], [13.2, 52.6]]",
                          "geom: [[[1, 2], [3, 4]], [[5, 6], [7, 8]]]")
    pages = spark.createDataFrame(
        [("u1", good), ("u2", no_geom), ("u3", one_pt), ("u4", three_d),
         ("u5", null_ord), ("u6", str_ord), ("u7", nested)],
        ["url", "text"])
    got = {r["url"]: r["geom_lonlat"]
           for r in extract_ways(pages, ["highway"]).collect()}
    assert set(got) == {"u1", "u4"}
    assert got["u4"] == [[13.1, 52.5], [13.2, 52.6]]


# --------------------------------------------- round-4 review-fix pinning ----
def test_warc_write_rejects_payload_with_boundary_marker(tmp_path):
    """A payload containing the record boundary marker is unrepresentable
    in the write_warc framing: written verbatim it would split into two
    records on read and silently truncate the text (breaking the
    byte-identical per-url invariant).  Pinned: fail loudly at write."""
    import pandas as pd

    from cqi_engine.sources.warc import _DELIM, write_warc

    pdf = pd.DataFrame([{
        "url": "http://evil.example/1",
        "warc_ts": pd.Timestamp("2026-01-01"),
        "text": f"before{_DELIM}after",
        "lang": "en",
    }])
    with pytest.raises(ValueError, match="boundary marker"):
        write_warc(pdf, str(tmp_path / "bad.warc"))


def test_warc_read_refuses_standard_blank_line_framing(spark, tmp_path):
    """A STANDARD-framed WARC (blank-line + Content-Length records, no
    boundary markers) is not splittable by the lineSep reader — it would
    collapse the whole file to ONE row with near-total silent data loss.
    Pinned: the scan sniffs the first file and fails loudly instead."""
    from cqi_engine.sources.warc import read_warc

    rec = ("WARC/1.0\r\n"
           "WARC-Type: conversion\r\n"
           "WARC-Target-URI: http://std.example/{i}\r\n"
           "WARC-Date: 2026-01-01T00:00:00Z\r\n"
           "Content-Length: 7\r\n"
           "\r\n"
           "payload\r\n\r\n")
    path = str(tmp_path / "standard.warc")
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(rec.format(i=1) + rec.format(i=2))
    with pytest.raises(ValueError, match="STANDARD-framed"):
        read_warc(spark, path)


def test_metrics_records_append_not_overwrite(tmp_path):
    """Two metrics records for the same stage in the same millisecond (or
    from two drivers) must BOTH survive — the `_metrics` table is an
    append-only log, and a timestamp-only file name silently overwrote
    the first record.  Pinned via back-to-back same-ms writes."""
    import glob
    import json

    from cqi_engine.ops.checkpoint import write_metrics

    out = str(tmp_path / "job_out")
    for i in range(5):  # back-to-back: several pairs land in the same ms
        write_metrics(out, "score_job", {"ran": i})
    files = glob.glob(str(tmp_path / "job_out" / "_metrics" / "*.json"))
    assert len(files) == 5
    vals = sorted(json.load(open(f))["ran"] for f in files)
    assert vals == [0, 1, 2, 3, 4]


def test_cell_layout_negative_cells_prune_and_roundtrip(spark, tmp_path):
    """Cell grids centred on an origin produce NEGATIVE cell ids (south/
    west rows).  CAST(x/div AS LONG) truncates toward zero, so -50 landed
    in bucket 0 while the read side pruned with Python floor (-1) —
    silently losing every negative-cell row near the axis.  Pinned:
    floor()-bucketed write, read_cell_range returns exactly the filter
    semantics across the sign boundary."""
    from cqi_engine.ops.layout import read_cell_range, write_cell_partitioned

    df = spark.range(-250, 250).withColumnRenamed("id", "cell")
    path = str(tmp_path / "neg_cells")
    write_cell_partitioned(df, path)

    for lo, hi in [(-199, -1), (-50, 49), (-250, 249), (0, 99)]:
        got = sorted(r["cell"] for r in
                     read_cell_range(spark, path, lo, hi).collect())
        assert got == list(range(lo, hi + 1)), (lo, hi)


def test_ship_package_keyed_by_application_id():
    """ship_package's idempotence guard must key on applicationId, not
    id(spark): CPython recycles object addresses, so a stopped session's
    id can be reused by a fresh one whose SparkContext never got the
    zip.  Pinned with a stub: same object, new applicationId -> a second
    addPyFile; same applicationId -> skipped."""
    from cqi_engine import session as sess_mod

    calls = []

    class _Ctx:
        applicationId = "app-test-ship-A"

        def addPyFile(self, p):
            calls.append((self.applicationId, p))

    class _Spark:
        sparkContext = _Ctx()

    s = _Spark()
    try:
        sess_mod.ship_package(s)
        sess_mod.ship_package(s)          # same app id: no re-ship
        assert len(calls) == 1
        _Ctx.applicationId = "app-test-ship-B"   # "new session, same id()"
        sess_mod.ship_package(s)
        assert len(calls) == 2
    finally:
        sess_mod._SHIPPED_SESSIONS.discard("app-test-ship-A")
        sess_mod._SHIPPED_SESSIONS.discard("app-test-ship-B")


def test_tune_runtime_matches_build_session_shuffle():
    """tune_runtime must set exactly the conf table build_session bakes in,
    shuffle partitions included, so plans reproduce identically whichever
    path built the session; it sets it once per session."""
    from cqi_engine import session as sess_mod
    from cqi_engine.session import RUNTIME_CONF, tune_runtime

    class _Conf:
        def __init__(self):
            self.vals = {}

        def set(self, k, v):
            self.vals[k] = v

    class _Ctx:
        applicationId = "app-test-tune"

    class _Spark:
        def __init__(self):
            self.conf = _Conf()
            self.sparkContext = _Ctx()

    s = _Spark()
    try:
        tune_runtime(s)
        assert s.conf.vals == RUNTIME_CONF
        assert s.conf.vals["spark.sql.shuffle.partitions"] == "32"
        s.conf.vals.clear()
        tune_runtime(s)               # same app id: already tuned
        assert s.conf.vals == {}
    finally:
        sess_mod._TUNED_SESSIONS.discard("app-test-tune")


def test_score_job_snapshot_id_tracks_input_and_buckets(tmp_path):
    """Checkpoint-resume lineage must certify the WORK, not the path:
    regenerating the input at the same path or rerunning with a different
    --n-buckets must invalidate resume (stale/misaligned partitions would
    otherwise be served as current).  Pinned on the parquet stand-in for
    an Iceberg snapshot id."""
    import importlib.util
    import os
    import time

    spec = importlib.util.spec_from_file_location(
        "score_job_test", os.path.join(os.path.dirname(__file__),
                                       "..", "jobs", "score_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    sf = tmp_path / "sf"
    sf.mkdir()
    f = sf / "documents.parquet"
    f.write_bytes(b"stand-in parquet bytes")

    base = mod._input_snapshot_id(str(sf), 8)
    assert base == mod._input_snapshot_id(str(sf), 8)   # deterministic
    assert base != mod._input_snapshot_id(str(sf), 16)  # bucket layout
    os.utime(f, ns=(time.time_ns(), time.time_ns() + 1))
    assert base != mod._input_snapshot_id(str(sf), 8)   # regenerated input


def test_parse_way_text_quarantines_non_dict_tags():
    """'tags:' carrying valid-JSON-but-not-an-object ('3', '[1,2]') used
    to raise TypeError from rec.update() and kill the whole mapInPandas
    task — one dirty page taking down the byte range.  Pinned: such pages
    quarantine to None like every other malformed envelope."""
    from cqi_engine.sources.pages import parse_way_text, way_to_text

    good = way_to_text("w_ok", {"highway": "path"},
                       [[13.1, 52.5], [13.2, 52.6]])
    assert parse_way_text(good) is not None
    for bad_tags in ("3", "[1, 2]", '"str"', "null"):
        bad = good.replace('tags: {"highway": "path"}', f"tags: {bad_tags}")
        assert parse_way_text(bad) is None, bad_tags


def test_geojson_sink_importable_without_spark_session():
    """Building a pyspark Column asserts an active SparkContext, so a
    module-level Column constant crashes any import that happens before a
    session exists (job scripts import sinks at module top).  Pinned:
    import in a fresh interpreter with no session."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-c", "import cqi_engine.sources.geojson_sink"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr


def test_read_geojson_lines_empty_feature_collection(tmp_path):
    """Zero LineString features (all Points, or an empty collection) must
    yield an empty frame with the documented columns, not KeyError."""
    import json as _json

    from cqi_engine.io import read_geojson_lines

    for fc in ({"type": "FeatureCollection", "features": []},
               {"type": "FeatureCollection", "features": [
                   {"type": "Feature", "properties": {"highway": "path"},
                    "geometry": {"type": "Point",
                                 "coordinates": [13.1, 52.5]}}]}):
        p = tmp_path / "fc.geojson"
        p.write_text(_json.dumps(fc))
        df = read_geojson_lines(str(p))
        assert len(df) == 0
        assert set(df.columns) >= {"geom_lonlat", "geom_metric"}


def test_write_geojson_numpy_ints_and_nan_geometry(tmp_path):
    """iterrows yields np.int64 scalars (json.dump rejects them) and
    pandas marks missing geometry as float NaN, not None (which used to
    serialize as the invalid-JSON token NaN inside coordinates).  Pinned:
    ints serialize, NaN geometry emits "geometry": null, and the output
    parses with a strict (no-NaN) JSON parser."""
    import json as _json

    import pandas as pd

    from cqi_engine.io import write_geojson

    df = pd.DataFrame({
        "way_id": pd.array([1, 2], dtype="int64"),
        "index_10": np.array([7, 9], dtype=np.int64),
        "geom_lonlat": [np.array([[13.1, 52.5], [13.2, 52.6]]), np.nan],
    })
    p = tmp_path / "out.geojson"
    write_geojson(df, str(p))
    fc = _json.loads(p.read_text(), parse_constant=lambda c: (_ for _ in ())
                     .throw(ValueError(f"non-strict JSON constant {c}")))
    assert [f["properties"]["index_10"] for f in fc["features"]] == [7, 9]
    assert fc["features"][0]["geometry"]["type"] == "LineString"
    assert fc["features"][1]["geometry"] is None


def test_parent_cell_np_rejects_finer_parent():
    """np.left_shift with a negative shift count is UNDEFINED and silent —
    swapped arguments would corrupt every rollup join downstream.  Pinned:
    the vectorized twin raises exactly like the scalar one."""
    from cqi_engine.operators.cells import (cell_id_np, parent_cell,
                                            parent_cell_np)

    c = int(cell_id_np(np.array([1000.0]), np.array([2000.0]), res=9)[0])
    assert parent_cell_np(np.array([c]), 7)[0] == parent_cell(c, 7)
    with pytest.raises(ValueError, match="coarser"):
        parent_cell_np(np.array([c]), 12)
    with pytest.raises(ValueError, match="coarser"):
        parent_cell(c, 12)
