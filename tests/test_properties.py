"""Property-based tests (hypothesis) for the geometry and hashing kernels —
the test class the reference lacks entirely (SURVEY §5)."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from cqi_engine import config as C
from cqi_engine.geometry import (line_length, lonlat_to_metric,
                                 metric_to_lonlat, offset_polyline,
                                 point_to_polyline_dist, sample_points_along)

# central-European-ish lon/lat boxes (the projection's validity zone)
lons = st.floats(min_value=6.0, max_value=24.0)
lats = st.floats(min_value=46.0, max_value=56.0)


@given(st.lists(st.tuples(lons, lats), min_size=2, max_size=8, unique=True))
@settings(max_examples=60, deadline=None)
def test_projection_roundtrip(coords):
    arr = np.array(coords, dtype=float)
    x, y = lonlat_to_metric(arr[:, 0], arr[:, 1])
    lon2, lat2 = metric_to_lonlat(x, y)
    assert np.allclose(lon2, arr[:, 0], atol=1e-9)
    assert np.allclose(lat2, arr[:, 1], atol=1e-9)


@given(st.lists(st.tuples(
    st.floats(min_value=-1e5, max_value=1e5),
    st.floats(min_value=-1e5, max_value=1e5)), min_size=2, max_size=6),
    st.floats(min_value=10.0, max_value=500.0))
@settings(max_examples=60, deadline=None)
def test_sample_points_spacing(coords, spacing):
    arr = np.array(coords, dtype=float)
    pts = sample_points_along(arr, spacing)
    total = line_length(arr)
    # chainage points + the end vertex; count bounded by length/spacing
    assert len(pts) == int(total / spacing + 1e-9) + 2
    # every sample lies on (within fp tolerance of) the line
    d = point_to_polyline_dist(pts[:, 0], pts[:, 1], arr)
    assert float(d.max()) < 1e-6 * max(1.0, total)


@given(st.lists(st.tuples(
    st.floats(min_value=-1e4, max_value=1e4),
    st.floats(min_value=-1e4, max_value=1e4)), min_size=2, max_size=5),
    st.floats(min_value=-30.0, max_value=30.0))
@settings(max_examples=60, deadline=None)
def test_offset_polyline_distance(coords, dist):
    arr = np.array(coords, dtype=float)
    seg = np.diff(arr, axis=0)
    seglen = np.hypot(seg[:, 0], seg[:, 1])
    if (seglen < 1.0).any():  # degenerate segments have no defined normal
        return
    off = offset_polyline(arr, dist)
    assert off.shape == arr.shape
    # endpoints move by exactly |dist| (miter joins may move interior
    # vertices further)
    for i in (0, -1):
        moved = float(np.hypot(*(off[i] - arr[i])))
        assert abs(moved - abs(dist)) < 1e-9


@given(st.floats(min_value=0.0, max_value=99999.0),
       st.floats(min_value=0.0, max_value=99999.0))
@settings(max_examples=60, deadline=None)
def test_cell_contains_point(x, y):
    from cqi_engine.operators import cells

    c = int(cells.cell_id_np(np.array([x]), np.array([y]))[0])
    ring = cells.cell_boundary_metric(c)
    assert ring[:, 0].min() <= x <= ring[:, 0].max()
    assert ring[:, 1].min() <= y <= ring[:, 1].max()
    # neighbors in the 3x3 disk are distinct and include the center
    disk = cells.grid_disk(c, 1)
    assert len(set(disk)) == 9 and c in disk


@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz ;|", max_size=60))
@settings(max_examples=120, deadline=None)
def test_polyhash_python_model(s):
    """The dialect polyhash (SQL) must equal this reference model — pinned
    here so the SQL fragment can never drift from the documented hash."""
    def model(tok: str) -> int:
        return sum(ord(ch) * 31 ** i for i, ch in enumerate(tok[:8]))

    toks = [t for t in s.split(" ") if t != ""]
    # model of the dedup pipeline's distinct-token hash multiset
    seen = list(dict.fromkeys(toks))
    hashes = [model(t) for t in seen]
    assert all(0 <= h < (1 << 62) for h in hashes)
    if hashes:
        perms = [(709, 3571), (806, 3702)]
        for a, b in perms:
            mh = min((a * h + b) % ((1 << 31) - 1) for h in hashes)
            assert 0 <= mh < (1 << 31) - 1


@given(st.lists(st.one_of(
    st.floats(min_value=0.0, max_value=120.0),
    st.just(float("nan")),
    # decimal-boundary values where binary-scaling round (numpy) can
    # disagree with Python's correctly-rounded decimal round()
    st.sampled_from([0.125, 0.135, 2.675, 1.005, 0.015, 0.285, 66.666667,
                     0.846, 99.995])),
    min_size=0, max_size=400))
@settings(max_examples=120, deadline=None)
def test_py_round_series_matches_python_round(vals):
    """_py_round_series rounds each distinct value once via factorize and
    scatters back; it must stay element-for-element identical to the plain
    per-element Python round() it replaces (F11 banker's-decimal parity)."""
    import pandas as pd

    from cqi_engine.kernel.rules import _py_round_series

    s = pd.Series(vals, dtype=float)
    for nd in (0, 2, 3):
        got = _py_round_series(s, nd)
        want = s.map(lambda v: round(v, nd) if pd.notna(v) else np.nan)
        assert got.fillna(-999.0).equals(want.fillna(-999.0).astype(float))


@given(st.lists(st.lists(st.tuples(lons, lats), min_size=1, max_size=5),
                min_size=0, max_size=12))
@settings(max_examples=60, deadline=None)
def test_metric_batched_matches_per_way_transform(ways):
    """_metric_batched (one Karney call per batch) must slice back to the
    exact per-way _metric output it replaced in sample_points /
    road_cell_index."""
    from cqi_engine.operators.pipeline import _metric, _metric_batched

    geoms = [np.array([c for pt in w for c in pt], dtype=float)
             for w in ways]
    M, offs = _metric_batched(np.array(geoms, dtype=object))
    assert len(offs) == len(ways) + 1
    for i, g in enumerate(geoms):
        np.testing.assert_array_equal(M[offs[i]:offs[i + 1]], _metric(g))


@given(st.lists(st.lists(st.tuples(
    st.floats(min_value=-1000.0, max_value=1000.0),
    st.floats(min_value=-1000.0, max_value=1000.0)),
    min_size=0, max_size=6), min_size=0, max_size=10))
@settings(max_examples=80, deadline=None)
def test_segment_cells_clipped_batch_matches_per_way(ways):
    """segment_cells_clipped_batch must reproduce segment_cells_clipped
    per way exactly: same covered cells, same segments in the same order."""
    from cqi_engine.geometry import (segment_cells_clipped,
                                     segment_cells_clipped_batch)

    cell, pad = 250.0, 22.0
    geoms = [np.asarray(w, dtype=float).reshape(-1, 2) for w in ways]
    offs = np.concatenate([[0], np.cumsum([len(g) for g in geoms])]) \
        .astype(np.int64)
    M = (np.concatenate(geoms) if any(len(g) for g in geoms)
         else np.empty((0, 2)))
    wayg, ixg, iyg, splits = segment_cells_clipped_batch(M, offs, cell, pad)
    got = {}
    for w, ix, iy, segs in zip(wayg, ixg, iyg, splits):
        got[(int(w), int(ix), int(iy))] = segs
    want = {}
    for wi, g in enumerate(geoms):
        if len(g) == 0:
            continue
        for (ix, iy), segs in segment_cells_clipped(g, cell, pad).items():
            want[(wi, int(ix), int(iy))] = segs
    assert set(got) == set(want)
    for key, segs in want.items():
        np.testing.assert_array_equal(got[key], segs)


@given(st.lists(st.lists(st.tuples(
    st.floats(min_value=-5000.0, max_value=5000.0),
    st.floats(min_value=-5000.0, max_value=5000.0)),
    min_size=1, max_size=6), min_size=0, max_size=10),
    st.sampled_from([100.0, 37.5, 1.0]))
@settings(max_examples=80, deadline=None)
def test_sample_points_along_batch_matches_per_way(ways, spacing):
    """sample_points_along_batch must reproduce sample_points_along per
    way: same row counts and order, coordinates within 1 ulp-scale of the
    per-way chainage arithmetic (global-cumsum re-basing)."""
    from cqi_engine.geometry import (sample_points_along,
                                     sample_points_along_batch)

    geoms = [np.asarray(w, dtype=float).reshape(-1, 2) for w in ways]
    offs = np.concatenate([[0], np.cumsum([len(g) for g in geoms])]) \
        .astype(np.int64)
    M = (np.concatenate(geoms) if any(len(g) for g in geoms)
         else np.empty((0, 2)))
    way, seq, px, py = sample_points_along_batch(M, offs, spacing)
    row = 0
    for wi, g in enumerate(geoms):
        pts = sample_points_along(g, spacing)
        n = len(pts)
        assert list(way[row:row + n]) == [wi] * n
        assert list(seq[row:row + n]) == list(range(n))
        np.testing.assert_allclose(px[row:row + n], pts[:, 0],
                                   rtol=1e-12, atol=1e-7)
        np.testing.assert_allclose(py[row:row + n], pts[:, 1],
                                   rtol=1e-12, atol=1e-7)
        row += n
    assert row == len(way)


# --- packed tags: scan -> kernel round trip ---------------------------------

_PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")
# every tag a Spark-side operator reads, except the way's id and its role
_SPATIAL_TAGS = [t for t in C.SPARK_TAG_COLUMNS if t not in ("id", "highway")]
_TAG_KEYS = st.one_of(
    st.sampled_from(_SPATIAL_TAGS),
    # tags most rules read, so that packed values move the scores
    st.sampled_from(["surface", "smoothness", "width", "lit", "bicycle",
                     "segregated", "oneway", "cycleway", "cycleway:right",
                     "lanes", "traffic_sign", "access", "bicycle_road"]),
    st.sampled_from([t for t in C.TAG_WHITELIST if t not in ("id",
                                                             "highway")]),
    st.sampled_from(["note", "source:maxspeed", "it's", "c:\\x"]))
_TAG_VALUES = st.one_of(
    st.none(),
    st.sampled_from(["", "none", "walk", "yes", "no", "sidewalk", "lane",
                     "0", "30", "50", "2.5", "-1", "it's", 'say "hi"',
                     "c:\\x", "\\", "Straße", "東京 ✓"]),
    st.text(alphabet="ab1.'\"\\é✓ ", max_size=4))


@given(st.lists(st.dictionaries(_TAG_KEYS, _TAG_VALUES, max_size=6),
                min_size=1, max_size=3,
                unique_by=lambda d: json.dumps(d, sort_keys=True)),
       st.sampled_from([4, 90]), st.integers(min_value=0, max_value=99))
@settings(max_examples=10, deadline=None, derandomize=True)
def test_packed_tags_round_trip(spark, drawn, n_blocks, seed):
    """Drawn tag dicts (whitelisted keys, spatial ones included; values
    with quotes, backslashes, non-ASCII text, ``""``, ``none``, ``walk``
    and numeric strings; JSON nulls; keys outside the whitelist) on the
    geometry of a seeded corpus: the Spark path — ``read_geojsonl``,
    which packs the tags no Spark operator reads into ``__tags``, then
    ``score_way_table`` -> ``write_geojsonl`` — must give the digest
    multiset of ``kernel.pipeline.score_ways`` + ``final_projection``.
    Each way takes the drawn dicts in turn, so 90 blocks (270 ways, up
    to three distinct dicts) reach the kernel's grouped path, which must
    tell the dicts apart, and 4 blocks its direct one.  The corpus is
    the benchmark's isolated-block kind: each path lies near its own
    road only, so no sidepath name vote can tie (the engine and the
    pandas path break ties differently, a known open difference).
    Derandomized: one job per example, the same ten examples each run."""
    import tempfile

    sys.path.insert(0, _PERFBENCH)
    try:
        import gen
        import workloads as wl
    finally:
        sys.path.remove(_PERFBENCH)
    from cqi_engine.operators.pipeline import (WAY_TAG_COLUMNS,
                                               score_way_table)
    from cqi_engine.sources.geojson_scan import read_geojsonl
    from cqi_engine.sources.geojson_sink import write_geojsonl

    ways = [(wid, {**drawn[i % len(drawn)], "highway": tags["highway"]},
             coords)
            for i, (wid, tags, coords)
            in enumerate(gen.way_corpus(seed, "pool", n_blocks))]
    with tempfile.TemporaryDirectory() as tmp:
        src, out = os.path.join(tmp, "ways.geojsonl"), os.path.join(tmp, "o")
        gen.write_geojsonl(src, ways)
        write_geojsonl(score_way_table(
            read_geojsonl(spark, src, WAY_TAG_COLUMNS)), out)
        got = wl.digests(wl.read_geojsonl_props(out))
    want = wl.reference_scores(ways)
    assert sum(got.values()) == len(want)
    assert got == wl.digests(want)
