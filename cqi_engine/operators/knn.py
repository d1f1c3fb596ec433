"""kNN nearest-way lookup with bounded ring expansion (north_star).

For each query point, candidates come from the point's own grid cell plus
expanding rings (the H3 ``grid_disk`` pattern); a point only pays for the
rings it needs.  Implemented as a composition of built-ins:

1. assign each query point its cell;
2. explode every (ring, dx, dy) offset for rings 0..max_ring up front and
   equi-join the probe cells against the way-cell index (ONE shuffle);
3. rank ALL candidates found inside the bounded disk globally by exact
   distance with a total (dist, id) order and keep the k nearest.

The ring bound is the *search* cap (a bounded disk of (2R+1)^2 cells per
point), not a per-ring early exit: every candidate within the disk
competes, so results are exact whenever the true k-th neighbor lies
within distance (max_ring * cell_size) of the query point (a candidate at
Euclidean distance d is guaranteed to be registered within Chebyshev cell
ring < d/cell_size + 1).  At 100 TB, cells are sized so ring 0-1 holds
the k-th neighbor for the vast majority of points and the exploded probe
fan-out stays a small constant ((2R+1)^2 rows per point, no cross join).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geometry import point_to_polyline_dist

# composite probe-cell key cx * CELL_MULT + cy: injective while cell
# coordinates stay within +-CELL_MULT/2
CELL_MULT = 100000


def ring_offsets(max_ring: int) -> list[tuple[int, int, int]]:
    """(ring, dx, dy) for square rings 0..max_ring (grid_disk analog)."""
    out = []
    for r in range(max_ring + 1):
        for dx in range(-r, r + 1):
            for dy in range(-r, r + 1):
                if max(abs(dx), abs(dy)) == r:
                    out.append((r, dx, dy))
    return out


def _knn_probe(points: DataFrame, way_cells: DataFrame, k: int = 3,
               max_ring: int = 2) -> DataFrame:
    """Single bounded-disk probe: points(pt_id, x, y, cx, cy ints) x
    way_cells(road_id, cellx, celly, road_geom) -> k nearest per point
    AMONG the candidates registered within Chebyshev ring <= max_ring.

    `cx`/`cy` are integer cell coordinates; the composite join key is
    cx*CELL_MULT+cy.  Exact distance refine runs vectorized per Arrow batch.

    `pt_id`/`road_id` keep their INPUT types (string or integral) end to
    end: at web scale the candidate relation is points x disk-local ways,
    and an int64 id is ~3x narrower than the equivalent zero-padded string
    through the probe-cell exchange, the Arrow refine crossing, and the
    (pt, road) dedup shuffle — the same dictionary-code diet the flagship
    spatial join applies to way ids (operators/pipeline.py).
    """
    pt_id_t = points.schema["pt_id"].dataType
    road_id_t = way_cells.schema["road_id"].dataType
    # the offsets are one SQL literal: as a Column-API list they cost
    # about 45 Py4J round trips per term, (2R+1)^2 terms
    offsets = ", ".join(
        f"named_struct('ring', {r}, 'dx', {dx}, 'dy', {dy})"
        for r, dx, dy in ring_offsets(max_ring))
    probes = (points
              .selectExpr("pt_id", "x", "y", "cx", "cy",
                          f"inline(array({offsets}))")
              .selectExpr("pt_id", "x", "y", "ring",
                          f"(cx + dx) * {CELL_MULT} + (cy + dy) "
                          "as probe_cell"))

    idx = way_cells.selectExpr(
        "*", f"cast(cellx * {CELL_MULT} + celly as bigint) as probe_cell")

    cand = probes.join(idx.hint("shuffle_hash"), "probe_cell", "inner")

    schema = T.StructType([
        T.StructField("pt_id", pt_id_t),
        T.StructField("ring", T.IntegerType()),
        T.StructField("road_id", road_id_t),
        T.StructField("dist", T.DoubleType()),
    ])

    def refine(batches):
        # one geometry build + one vectorized distance call per road in
        # the batch (all candidate points of that road at once); grouping
        # via factorize + stable argsort (positional numpy slices), not
        # pandas groupby iteration — sub-frame construction per group is
        # the measured hot spot at scale
        for pdf in batches:
            if not len(pdf):
                continue
            codes, _u = pd.factorize(pdf["road_id"], sort=False)
            order = np.argsort(codes, kind="stable")
            sc = codes[order]
            starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
            ends = np.r_[starts[1:], len(sc)]
            px = pdf["x"].to_numpy(dtype=float)
            py = pdf["y"].to_numpy(dtype=float)
            geom = pdf["road_geom"].to_numpy(dtype=object)
            dists = np.empty(len(pdf))
            for s, e in zip(starts, ends):
                idx = order[s:e]
                coords = np.vstack([np.asarray(p, dtype=float)
                                    for p in geom[idx[0]]])
                dists[idx] = point_to_polyline_dist(px[idx], py[idx], coords)
            yield pd.DataFrame({
                "pt_id": pdf["pt_id"], "ring": pdf["ring"],
                "road_id": pdf["road_id"], "dist": np.round(dists, 6),
            })

    refined = cand.select("pt_id", "ring", "x", "y", "road_id",
                          "road_geom").mapInPandas(refine, schema)

    # A road indexed in several cells of the disk yields one candidate row
    # per covering cell; collapse to one row per (pt, road) keeping the
    # SMALLEST ring (deterministic — dist is identical across duplicates,
    # min() makes `ring` well-defined instead of dropDuplicates' arbitrary
    # pick), then rank globally inside the bounded disk.
    return (refined.groupBy("pt_id", "road_id")
            .agg(F.expr("min(ring) as ring"), F.expr("min(dist) as dist"))
            .selectExpr("*", "row_number() over (partition by pt_id "
                        "order by dist asc, road_id asc) as rank")
            .where(f"rank <= {int(k)}"))


def knn_ways(points: DataFrame, way_cells: DataFrame, k: int = 3,
             max_ring: int = 2, *, cell_size: float) -> DataFrame:
    """k nearest ways per point, with per-point exactness verification.

    A way at true Euclidean distance d from a point is registered in a
    cell within Chebyshev ring floor(d/cell_size) + 1 of the point's cell
    (worst case: the point sits on a cell edge).  So after ranking within
    a probed disk of ring R, a point's top-k is PROVEN exact iff it found
    >= k candidates and its k-th distance dk satisfies
    floor(dk/cell_size) + 1 <= R — every way that could still beat the
    current k-th lies inside the already-probed disk.

    Points failing the proof are re-probed with the ring their own dk
    implies (doubling when k candidates were not found at all), up to the
    data's own cell extent — so an under-sized density heuristic for
    ``max_ring`` costs a second small probe over the flagged subset, never
    exactness.  The driver's role per round is one tiny aggregate (flag
    count + needed ring): O(log(extent/cell)) rounds, O(1) driver data
    each.
    """

    ring_cap_cache: list[int | None] = []

    def ring_cap() -> int | None:
        """Largest ring that can ever help: the Chebyshev spread of the
        two cell extents (beyond it the disk covers every indexed way).
        Computed lazily — the happy path (every point proven exact on the
        first probe) never pays this job — and as ONE driver job (1x1
        crossJoin of the two extent aggregates).  None = either side empty.
        """
        if not ring_cap_cache:
            ext = way_cells.selectExpr(
                "min(cellx) as ax", "max(cellx) as bx",
                "min(celly) as ay", "max(celly) as `by`")
            pext = points.selectExpr(
                "min(cx) as pax", "max(cx) as pbx",
                "min(cy) as pay", "max(cy) as pby")
            r = ext.crossJoin(pext).collect()[0]
            if r["ax"] is None or r["pax"] is None:
                ring_cap_cache.append(None)
            else:
                ring_cap_cache.append(max(
                    abs(int(r["bx"]) - int(r["pax"])),
                    abs(int(r["pbx"]) - int(r["ax"])),
                    abs(int(r["by"]) - int(r["pay"])),
                    abs(int(r["pby"]) - int(r["ay"]))) + 1)
        return ring_cap_cache[0]

    eps = 1e-6  # refine rounds dist to 6 dp; don't let rounding flip floor
    # the ring that proves a point's k-th distance dk (SQL text: each
    # Column-API call costs about 45 Py4J round trips)
    dk_ring = f"floor((dk + {eps!r}D) / {float(cell_size)!r}D) + 1"
    resolved = []
    cur_ring = max_ring
    cur = _knn_probe(points, way_cells, k, max_ring).persist()
    cur_points = points
    while True:
        stats = cur.groupBy("pt_id").agg(
            F.expr("count(*) as n"), F.expr("max(dist) as dk"))
        # zero-candidate points never reach `stats`: start from the probe's
        # point set so they are flagged, not silently dropped
        stats = (cur_points.select("pt_id").distinct()
                 .join(stats, "pt_id", "left"))
        bad = (stats
               .where(f"not coalesce(n >= {int(k)} and "
                      f"{dk_ring} <= {int(cur_ring)}, false)")
               .selectExpr("pt_id", f"case when n >= {int(k)} "
                           f"then {dk_ring} end as need_ring")
               .persist())
        agg = bad.selectExpr("count(*) as c",
                             "max(need_ring) as need").collect()[0]
        if agg["c"] == 0:
            resolved.append(cur)
            bad.unpersist()
            break
        cap = ring_cap()
        if cap is None or cur_ring >= cap:
            # disk already covers the whole extent: every flagged point has
            # in fact seen every indexed way, so its ranking is exact
            resolved.append(cur)
            bad.unpersist()
            break
        resolved.append(cur.join(bad.select("pt_id"), "pt_id", "left_anti"))
        need = int(agg["need"]) if agg["need"] is not None else 0
        new_ring = min(cap, max(need, cur_ring * 2))
        cur_points = points.join(bad.select("pt_id"), "pt_id", "inner")
        cur = _knn_probe(cur_points, way_cells, k, new_ring).persist()
        cur_ring = new_ring

    out = resolved[0]
    for part in resolved[1:]:
        out = out.unionByName(part)
    return out
