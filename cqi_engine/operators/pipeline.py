"""Distributed scoring pipeline (Spark DataFrame composition).

Plan shape (SURVEY.md §3.1 engine lifecycle):

    pages scan ──mapInPandas──> way table (tag cols + lonlat geometry;
                                every way source packs the tags no Spark
                                operator reads into one __tags column)
        ├─ paths ──mapInPandas──> check points (way_id, cell, x, y)   [J1+J2]
        ├─ roads ──mapInPandas──> cell-exploded road index            [J3/J4 prep]
        ├─ points ⋈ roads ON cell (+ null-safe layer) ── hash join    [shuffle 1]
        │      └─ exact dwithin(22 m) refine, vectorized              [J4 refine]
        ├─ groupBy(way_id[, key]) count/max/argmax aggregates         [shuffle 2]
        │      (two-level: partial map-side aggregation + final merge)
        └─ ways ⋈ agg ON way_id ── writeback                          [shuffle 3]
    ──mapInPandas──> offset explode + deletes + way type + rules + score
    (row-local kernel; zero further shuffles)

Skew posture: the cell join runs under AQE skew-join; dense-city cells can
additionally be salted via `salt_hot_cells` (explicit histogram-driven
mechanism, see operators/skew.py).

All heavy per-row logic reuses the pandas kernels from cqi_engine.kernel —
the exact code path proven bit-for-bit against the reference golden corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config as C
from ..geometry import (lonlat_to_metric, sample_points_along_batch,
                        segment_cells_clipped_batch)
from ..kernel import rules
from ..kernel.offsets import run_offset_stage
from ..kernel.sidepath import determine_maxspeed_value
from . import cells
from .dialect import spark_quote as Q

WAY_TAG_COLUMNS = list(C.TAG_WHITELIST)

# way_id / road_id carry the type of the input `id` column: the flagship
# dictionary-encodes way ids to int64 before these relations are built
# (see score_way_table), because the id repeats per sampled point / per
# covered cell / per candidate pair — at web scale the string form is
# pure shuffle weight, and the shuffled relations only ever group, join,
# and count-distinct on it.  Callers with string ids (library use, unit
# fixtures) still get string-keyed output: the schema follows the input.
def _points_schema(id_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("way_id", id_type),
        T.StructField("layer", T.StringType()),
        T.StructField("pt_seq", T.IntegerType()),
        # point coords CELL-RELATIVE in float32 (xr = x - floor(x/cell)*
        # cell), the same encoding as the segment payload below: relative
        # magnitude < 64 m keeps float32 at ~4e-6 m precision — far
        # inside the 22 m predicate's tolerance — at half the shuffle
        # bytes of absolute float64; the refine kernel rebuilds absolute
        # float64 coords from the (joined) cell's origin.
        T.StructField("xr", T.FloatType()),
        T.StructField("yr", T.FloatType()),
        T.StructField("cell", T.LongType()),
    ])


def _road_cells_schema(id_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("road_id", id_type),
        T.StructField("road_highway", T.StringType()),
        T.StructField("road_name", T.StringType()),
        T.StructField("road_maxspeed", T.DoubleType()),
        T.StructField("road_layer", T.StringType()),
        T.StructField("cell", T.LongType()),
        # CLIPPED local segments as a FLAT float32 array of [ax, ay, bx,
        # by] quadruples RELATIVE to the cell's metric origin.
        # Cell-relative magnitude is <= cell_size + pad (~86 m), so
        # float32 keeps ~1e-5 m precision — far inside the 22 m
        # predicate's tolerance — at 1/3 the shuffle bytes of the former
        # array<array<double>> encoding (and with one Arrow offset buffer
        # instead of one child array per segment).
        T.StructField("road_geom", T.ArrayType(T.FloatType())),
    ])


def _flat_geom(df: DataFrame):
    """`geom_lonlat` as a FLAT array<double> column (interleaved lon,lat).

    Sources may hand geometry nested (`array<array<double>>`, the GeoJSON
    contract) or already flat (`array<double>`, the web-scale synthesis
    path).  Flattening JVM-side before the Arrow boundary replaces one
    child array per point with a single values+offsets buffer pair —
    measurably lighter to transfer and to cache.
    """
    dt = df.schema["geom_lonlat"].dataType
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.ArrayType):
        return F.flatten(F.col("geom_lonlat")).alias("geom_flat")
    return F.col("geom_lonlat").alias("geom_flat")


def _metric(flat) -> np.ndarray:
    # Arrow hands array<double> as one ndarray of interleaved lon,lat
    g = np.asarray(flat, dtype=float).reshape(-1, 2)
    x, y = lonlat_to_metric(g[:, 0], g[:, 1])
    return np.column_stack([x, y])


def _metric_batched(geoms) -> tuple[np.ndarray, np.ndarray]:
    """Transform EVERY vertex of a batch of flat lon,lat arrays in ONE
    Karney-series call; returns (metric (N,2), offsets (n_ways+1,)).

    The per-way form pays the series' fixed vectorization overhead
    (~30 us) once per way on 2-5-point geometries — on a 100k-way batch
    that overhead IS the stage (profiled ~45% of sample_points /
    road_cell_index CPU).  Way i's coords are ``M[offs[i]:offs[i+1]]``.
    """
    n = len(geoms)
    npts = np.fromiter((len(g) for g in geoms), dtype=np.int64,
                       count=n) // 2
    offs = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(npts)])
    if offs[-1] == 0:
        return np.empty((0, 2)), offs
    g = np.concatenate([np.asarray(a, dtype=float) for a in geoms]) \
        .reshape(-1, 2)
    x, y = lonlat_to_metric(g[:, 0], g[:, 1])
    return np.column_stack([x, y]), offs


def sample_points(paths: DataFrame) -> DataFrame:
    """J1+J2: check points every 100 m + end vertex, cell-assigned.

    One vectorized pass per Arrow batch (`sample_points_along_batch`) —
    the former per-way loop paid ~26 us of numpy fixed overhead on every
    2-5-vertex way, which dominated the stage at web-corpus batch sizes.
    """
    csize = cells.cell_size(cells.JOIN_RES)

    def gen(batches):
        for pdf in batches:
            M, offs = _metric_batched(pdf["geom_flat"].to_numpy(object))
            way, seq, px, py = sample_points_along_batch(
                M, offs, C.SIDEPATH_SAMPLE_SPACING_M)
            if len(px):
                cell = cells.cell_id_np(px, py)
                # cell-relative float32 (same floor as cell_id_np, so the
                # refine kernel's per-cell origin reconstructs exactly)
                xr = (px - np.floor(px / csize) * csize).astype(np.float32)
                yr = (py - np.floor(py / csize) * csize).astype(np.float32)
            else:
                cell = np.empty(0, dtype=np.int64)
                xr = yr = np.empty(0, dtype=np.float32)
            yield pd.DataFrame({
                "way_id": pdf["id"].to_numpy(object)[way],
                "layer": pdf["layer"].to_numpy(object)[way],
                "pt_seq": seq.astype(np.int32),
                "xr": xr,
                "yr": yr,
                "cell": cell,
            })

    return paths.select("id", "layer", _flat_geom(paths)).mapInPandas(
        gen, _points_schema(paths.schema["id"].dataType))


def road_cell_index(roads: DataFrame) -> DataFrame:
    """Explode each road over the 64 m cells its 22 m-dilated envelope covers.

    This is the distributed stand-in for a broadcast spatial index: after
    this map, the dwithin join is a plain hash equi-join on cell_id.

    ``road_geom`` carries only the CLIPPED segments local to each cell
    ([ax, ay, bx, by] rows, see geometry.segment_cells_clipped) — shipping
    the full polyline once per covered cell made the shuffle payload for a
    long way quadratic-ish in its length (length x covered cells); the
    clip bounds it to ~one copy of each segment per adjacent cell while
    keeping the <=22 m predicate exact.
    """
    csize = cells.cell_size(cells.JOIN_RES)

    def _float_or_none(vals: np.ndarray) -> np.ndarray:
        """Python-float() per DISTINCT value (tag vocab is tiny), scattered
        back — identical semantics to the old per-row try/float."""
        codes, uniq = pd.factorize(vals)
        conv = []
        for v in uniq:
            try:
                conv.append(float(v) if v not in (None, "") else None)
            except (TypeError, ValueError):
                conv.append(None)
        conv.append(None)  # factorize code -1 (null) -> None
        return np.array(conv, dtype=object)[codes]

    def gen(batches):
        cols = ("road_id", "road_highway", "road_name", "road_maxspeed",
                "road_layer", "cell", "road_geom")
        for pdf in batches:
            M, offs = _metric_batched(pdf["geom_flat"].to_numpy(object))
            wayg, ixg, iyg, splits = segment_cells_clipped_batch(
                M, offs, csize, C.SIDEPATH_BUFFER_SIZE_M)
            if not splits:
                yield pd.DataFrame({c: [] for c in cols})
                continue
            msv = _float_or_none(pdf["maxspeed"].to_numpy(object))
            cellv = ((cells.JOIN_RES * cells.SHIFT + ixg + cells.OFFSET)
                     * cells.SHIFT + iyg + cells.OFFSET)
            # cell-relative flat float32 payload (see schema note), built in
            # one pass over the concatenated segments and re-split per row
            sizes = np.fromiter((len(s) for s in splits), dtype=np.int64,
                                count=len(splits))
            offvec = (np.column_stack([ixg, iyg, ixg, iyg]).astype(float)
                      * csize)
            rel = (np.concatenate(splits)
                   - np.repeat(offvec, sizes, axis=0)).astype(np.float32)
            flat = rel.reshape(-1)
            bounds = 4 * np.r_[0, np.cumsum(sizes)]
            geoms = np.empty(len(splits), dtype=object)
            # slice views, not np.split: array_split's per-piece swapaxes
            # overhead measured ~2s/500k pages at local[1]
            geoms[:] = [flat[bounds[i]:bounds[i + 1]]
                        for i in range(len(splits))]
            yield pd.DataFrame({
                "road_id": pdf["id"].to_numpy(object)[wayg],
                "road_highway": pdf["highway"].to_numpy(object)[wayg],
                "road_name": pdf["name"].to_numpy(object)[wayg],
                "road_maxspeed": msv[wayg],
                "road_layer": pdf["layer"].to_numpy(object)[wayg],
                "cell": cellv,
                "road_geom": geoms,
            })

    return roads.select("id", "highway", "name", "maxspeed", "layer",
                        _flat_geom(roads)).mapInPandas(
        gen, _road_cells_schema(roads.schema["id"].dataType))


def dwithin_pairs(points: DataFrame, road_cells: DataFrame,
                  salt_threshold: float | None = None) -> DataFrame:
    """J4: hash join on cell + null-safe layer guard + exact distance refine.

    SHUFFLE_HASH hint: Catalyst has no size estimate for mapInPandas output
    and would otherwise broadcast the road-cell index — a driver-side
    serial collect of every road geometry (measured ~25 s at 250k pages
    locally; unbounded at web scale).  Partition-by-cell hash join is the
    correct physical plan at every scale; AQE still handles skewed cells.

    ``salt_threshold`` switches on the explicit histogram-driven salting of
    operators/skew.py (cells loaded > threshold x mean are split k ways) —
    the north_rule's explicit skew mechanism for dense-city cells, with AQE
    as the backstop when left off.
    """
    cols = ["way_id", "pt_seq", "xr", "yr", "cell", "road_id",
            "road_highway", "road_name", "road_maxspeed", "road_geom"]
    if salt_threshold is not None:
        from .skew import salted_join
        joined = salted_join(
            points, road_cells,
            on_extra=[lambda p, ix:
                      p["layer"].eqNullSafe(ix["road_layer"])],
            threshold=salt_threshold,
        ).select(*cols)
    else:
        joined = points.join(
            road_cells.hint("shuffle_hash"),
            on=[points["cell"] == road_cells["cell"],
                points["layer"].eqNullSafe(road_cells["road_layer"])],
            how="inner",
        ).select(points["cell"].alias("cell"),
                 *[c for c in cols if c != "cell"])

    schema = T.StructType([
        T.StructField("way_id", points.schema["way_id"].dataType),
        T.StructField("pt_seq", T.IntegerType()),
        T.StructField("road_id", road_cells.schema["road_id"].dataType),
        T.StructField("road_highway", T.StringType()),
        T.StructField("road_name", T.StringType()),
        T.StructField("road_maxspeed", T.DoubleType()),
    ])
    out_cols = [f.name for f in schema.fields]

    def refine(batches):
        # every candidate row of one (road, cell) group shares the same
        # clipped segment set — decode each group's payload once, then run
        # the whole batch's (point x segment) distance arithmetic as ONE
        # flattened numpy pass with a reduceat min per point (bitwise the
        # same per-pair math as points_to_segments_dist; the former
        # per-group kernel-call loop paid numpy fixed overhead ~72k times
        # per full run).  Grouping is factorize + stable argsort, NOT
        # pandas groupby iteration (measured ~17x slower).
        csize = cells.cell_size(cells.JOIN_RES)
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(columns=out_cols)
                continue
            codes = _group_codes(pdf["road_id"], pdf["cell"])
            order = np.argsort(codes, kind="stable")
            sc = codes[order]
            gstart = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
            g_pt_cnt = np.diff(np.r_[gstart, len(sc)])
            first_rows = order[gstart]
            geom = pdf["road_geom"].to_numpy(dtype=object)
            cell_ids = pdf["cell"].to_numpy(dtype=np.int64)
            # payload is flat float32 [ax,ay,bx,by]* RELATIVE to the cell
            # origin; rebuild absolute segments in float64 once per group
            rels = [np.asarray(geom[r], dtype=np.float32)
                    for r in first_rows]
            s_cnt = np.fromiter((len(r) >> 2 for r in rels), np.int64,
                                count=len(rels))
            seg_start = np.r_[0, np.cumsum(s_cnt)]
            seg = np.concatenate(rels).astype(np.float64).reshape(-1, 4)
            cid = cell_ids[first_rows]
            iy = cid % cells.SHIFT - cells.OFFSET
            ix = (cid // cells.SHIFT) % cells.SHIFT - cells.OFFSET
            seg += np.repeat(
                np.column_stack([ix, iy, ix, iy]).astype(float) * csize,
                s_cnt, axis=0)
            g_of_pt = np.repeat(np.arange(len(gstart)), g_pt_cnt)
            # point coords arrive cell-relative float32; the point's cell
            # IS the group's cell (it is the join key), so the group
            # origin rebuilds absolute float64 coords
            px = (pdf["xr"].to_numpy(dtype=np.float64)[order]
                  + ix[g_of_pt] * csize)
            py = (pdf["yr"].to_numpy(dtype=np.float64)[order]
                  + iy[g_of_pt] * csize)
            sc_of_pt = s_cnt[g_of_pt]
            pair_start = np.r_[0, np.cumsum(sc_of_pt)]
            total = int(pair_start[-1])
            rep_pt = np.repeat(np.arange(len(sc)), sc_of_pt)
            sidx = (seg_start[g_of_pt][rep_pt]
                    + np.arange(total) - pair_start[rep_pt])
            ax, ay = seg[sidx, 0], seg[sidx, 1]
            abx, aby = seg[sidx, 2] - ax, seg[sidx, 3] - ay
            ab2 = abx * abx + aby * aby
            ab2 = np.where(ab2 > 0, ab2, 1.0)
            apx, apy = px[rep_pt] - ax, py[rep_pt] - ay
            t = np.clip((apx * abx + apy * aby) / ab2, 0.0, 1.0)
            dx, dy = apx - t * abx, apy - t * aby
            pair_d = np.sqrt(dx * dx + dy * dy)
            d = np.empty(len(sc))
            d[order] = np.minimum.reduceat(pair_d, pair_start[:-1])
            yield pdf.loc[d <= C.SIDEPATH_BUFFER_SIZE_M, out_cols]

    return joined.mapInPandas(refine, schema)


def _group_codes(*cols) -> np.ndarray:
    """Compact int64 group ids for the row-wise tuple of `cols`."""
    acc = None
    for c in cols:
        codes, uniq = pd.factorize(c, sort=False)
        codes = codes.astype(np.int64)
        acc = codes if acc is None else acc * len(uniq) + codes
    return acc


_NULLK = "\x00null"


def sidepath_aggregates(points: DataFrame, pairs: DataFrame) -> DataFrame:
    """A1-A5 in exactly TWO aggregations + one join.

    The per-way candidate set is small (a handful of adjacent roads), so
    after the single `collect_list` shuffle every counter — the seed-2
    counts (ref:cycling_quality_index.py:1567-1572: a key seen at n points
    contributes n+1), the rank-argmax (A3), the name mode (A4), and the
    per-highway maxspeed map (A5) — is computed with higher-order array
    expressions inside whole-stage codegen.  The previous formulation spent
    ~12 exchanges (3 distincts, 6 groupBys, 2 windows, 6 joins) on the same
    result; stage-count is pure overhead at any cluster size.
    """
    checks = points.groupBy("way_id").agg(F.count("*").alias("checks"))

    arr = pairs.groupBy("way_id").agg(
        F.collect_list(F.struct(
            F.col("pt_seq").alias("pt"),
            F.col("road_id").alias("rid"),
            F.coalesce(F.col("road_highway"), F.lit(_NULLK)).alias("hw"),
            F.coalesce(F.col("road_name"), F.lit(_NULLK)).alias("nm"),
            F.col("road_maxspeed").alias("ms"),
        )).alias("a"))

    def fam_sum(field: str) -> str:
        # sum over keys of (distinct points with key + 1)
        # = countDistinct(pt, key) + countDistinct(key)
        return (f"size(array_distinct(transform(a, x -> struct(x.pt, x.{field}))))"
                f" + size(array_distinct(transform(a, x -> x.{field})))")

    ranking = [h for h in C.HIGHWAY_CLASS_RANKING if h is not None]
    rank_case = ("case hk " + " ".join(
        f"when '{h}' then {i}" for i, h in enumerate(ranking))
        + f" else {len(ranking)} end")
    # per-hw count struct: (cnt, neg_rank, hw) -> array_max = argmax by
    # (count desc, rank asc); sentinel/unranked classes map to NULL after.
    hw_keys = "array_distinct(transform(a, x -> x.hw))"
    hw_cnt = ("size(array_distinct(filter(transform(a, x -> struct(x.pt, x.hw)),"
              " p -> p.hw = hk))) + 1")
    best_hw = (f"array_max(transform({hw_keys}, hk -> "
               f"struct(({hw_cnt}) as c, -({rank_case}) as nr, hk as hw))).hw")
    argmax_hw = (f"case when ({best_hw}) in ({', '.join(repr(h) for h in ranking)}) "
                 f"then ({best_hw}) end")

    # mode name: array_min of (-cnt, name) = (count desc, name asc), nulls out
    nm_keys = f"filter(array_distinct(transform(a, x -> x.nm)), k -> k <> '{_NULLK}')"
    nm_cnt = ("size(array_distinct(filter(transform(a, x -> struct(x.pt, x.nm)),"
              " p -> p.nm = nk))) + 1")
    mode_name = (f"array_min(transform({nm_keys}, nk -> "
                 f"struct(-({nm_cnt}) as c, nk as nm))).nm")

    # per-highway max maxspeed map (array_max ignores NULL ms)
    ms_map = (f"map_from_entries(filter(transform({hw_keys}, hk -> "
              f"struct(hk as k, array_max(transform(filter(a, x -> x.hw = hk), "
              f"x -> x.ms)) as v)), e -> e.v is not null))")

    agg = arr.select(
        "way_id",
        F.expr(fam_sum("rid")).cast("long").alias("id_sum"),
        F.expr(fam_sum("hw")).cast("long").alias("hw_sum"),
        F.expr(fam_sum("nm")).cast("long").alias("name_sum"),
        F.expr(argmax_hw).alias("argmax_hw"),
        F.expr(mode_name).alias("mode_name"),
        F.expr(ms_map).alias("ms_map"),
    )
    # shuffle_hash: both sides are narrow per-way aggregates already keyed
    # by way_id; hash join skips the two sorts SMJ would insert.
    return checks.join(agg.hint("shuffle_hash"), "way_id", "left")


def apply_sidepath_spark(ways: DataFrame, agg: DataFrame) -> DataFrame:
    """Writeback (ref:cycling_quality_index.py:175-251) as expressions."""
    # shuffle_hash: the default SortMergeJoin would SORT the full wide tag
    # relation (85 string columns x every way) — pure memory traffic, the
    # binding resource under multi-core contention.  The win is skipping
    # that sort; both sides still exchange on the key (pre-partitioning
    # the persist was measured negative, see score_way_table) unless AQE
    # happens to reuse an existing partitioning.  Trade-off to know at
    # scale: ShuffledHashJoin's build-side hash map cannot spill, which is
    # safe here only because the build side is the NARROW per-way
    # aggregate (a handful of numeric columns, ~one row per way) and AQE
    # skew-join splits oversized partitions; a wide or heavily skewed
    # build side should fall back to SMJ.
    #
    # Key: the flagship dictionary-encodes way ids (score_way_table adds
    # __iid), so when present the join hashes 8-byte longs instead of id
    # strings; library callers without __iid join on the string id.
    key = "__iid" if "__iid" in ways.columns else "id"
    joined = ways.join(agg.hint("shuffle_hash"),
                       ways[key] == agg["way_id"], "left")
    if key == "__iid":
        joined = joined.drop("__iid")
    return _sidepath_writeback(joined)


_AGG_COLUMNS = ("way_id", "checks", "id_sum", "hw_sum", "name_sum",
                "argmax_hw", "mode_name", "ms_map")


def _sidepath_writeback(joined: DataFrame) -> DataFrame:
    """proc_* writeback expressions over an already-joined ways⋈agg row,
    as one projection: ``name`` is replaced in place, the ``proc_*``
    columns are appended and the aggregate columns dropped.  Double
    literals carry a ``D``: Spark SQL reads a bare ``2.0`` as DECIMAL."""
    def col(c: str) -> str:
        return Q(c, ident=True)

    is_path = (f"({col('highway')} IN ("
               + ", ".join(Q(h) for h in C.PATH_HIGHWAYS) + "))")
    threshold = f"2.0D / 3.0D * {col('checks')}"
    majority = " OR ".join(f"(coalesce({col(c)}, 0) >= {threshold})"
                           for c in ("id_sum", "hw_sum", "name_sum"))
    tag, spo, ms = col("is_sidepath"), col("is_sidepath:of"), col("maxspeed")
    proc_sidepath = (
        f"(CASE WHEN NOT {is_path} THEN CAST(NULL AS STRING)"
        f" WHEN {col('way_id')} IS NULL THEN CAST(NULL AS STRING)"
        f" ELSE (CASE WHEN {col('footway')} = {Q('sidewalk')} THEN {Q('yes')}"
        f" WHEN NOT ({tag} IS NULL OR {tag} = {Q('')}) THEN {tag}"
        f" WHEN ({majority}) THEN {Q('yes')} ELSE {Q('no')} END) END)")
    sidepath_yes = f"({proc_sidepath} = {Q('yes')})"
    proc_highway = (
        f"(CASE WHEN {is_path} THEN (CASE WHEN {sidepath_yes} THEN"
        f" (CASE WHEN NOT ({spo} IS NULL OR {spo} = {Q('')}) THEN {spo}"
        f" ELSE {col('argmax_hw')} END) END)"
        f" ELSE {col('highway')} END)")
    ms_lookup = (f"element_at({col('ms_map')},"
                 f" coalesce({proc_highway}, {Q(_NULLK)}))")
    determine_ms = (
        f"(CASE WHEN ({ms} = {Q('walk')}) OR ((({ms} IS NULL) OR"
        f" ({ms} = {Q('')})) AND ({col('highway')} = {Q('living_street')}))"
        f" THEN 10.0D WHEN {ms} = {Q('none')} THEN 299.0D"
        f" ELSE try_cast({ms} AS DOUBLE) END)")
    proc_maxspeed = (
        f"(CASE WHEN {is_path} THEN (CASE WHEN {sidepath_yes}"
        f" AND ({ms_lookup} IS NOT NULL) AND ({ms_lookup} != 0)"
        f" THEN {ms_lookup} END) ELSE {determine_ms} END)")
    mode = col("mode_name")
    name = (f"(CASE WHEN {is_path} AND {sidepath_yes} AND ({mode} IS NOT NULL)"
            f" AND ({mode} != {Q('')}) THEN {mode} ELSE {col('name')} END)")

    kept = [f"{name} AS {col(c)}" if c == "name" else col(c)
            for c in joined.columns if c not in _AGG_COLUMNS]
    return joined.selectExpr(
        *kept, f"{proc_sidepath} AS proc_sidepath",
        f"{proc_highway} AS proc_highway",
        f"{proc_maxspeed} AS proc_maxspeed")


def _output_spark_schema() -> T.StructType:
    type_map = {
        "index": T.IntegerType(), "index_10": T.IntegerType(),
        "stress_level": T.IntegerType(), "base_index": T.IntegerType(),
        "proc_maxspeed": T.IntegerType(), "filter_usable": T.IntegerType(),
        "offset": T.DoubleType(), "proc_width": T.DoubleType(),
        "proc_buffer_left": T.DoubleType(), "proc_buffer_right": T.DoubleType(),
        "fac_width": T.DoubleType(), "fac_surface": T.DoubleType(),
        "fac_highway": T.DoubleType(), "fac_maxspeed": T.DoubleType(),
        "fac_1": T.DoubleType(), "fac_2": T.DoubleType(),
        "fac_3": T.DoubleType(), "fac_4": T.DoubleType(),
        "data_incompleteness": T.DoubleType(),
    }
    return T.StructType(
        [T.StructField(c, type_map.get(c, T.StringType()), True)
         for c in C.OUTPUT_COLUMNS])


OUTPUT_SCHEMA = _output_spark_schema()


def score_batches(ways_with_sidepath: DataFrame,
                  offset_distance=None) -> DataFrame:
    """Offset explode + deletes + way type + rules + score per Arrow batch —
    zero shuffles; reuses the golden-verified kernel.  ``offset_distance``
    flows to the G2 offset stage (None = config default = 0, the golden
    contract; 'realistic'/numeric = data-defined offsets).

    Arrow-native grouped evaluation: the stage runs as ``mapInArrow`` and
    dictionary-encodes every attribute column C++-side to find the batch's
    distinct tuples; only the k representative rows ever become pandas
    objects.  The kernel output (one row block per signature) is scattered
    back with ``pyarrow.Table.take`` — for the duplicated majority of a
    web corpus no per-row Python object is created at all, which is both
    the single-core win and the memory-bandwidth win (object churn was the
    stage's multicore bottleneck).  Row-identical to the pandas path
    (tests/test_grouped_eval.py); low-duplication batches fall back to the
    direct kernel.  A packed ``__tags`` column is one signature column
    like any other, and is unpacked (``unpack_tags``) only on the rows
    that reach the kernel: the representatives, or the whole batch on the
    direct path.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    # local import to avoid cycle
    from ..kernel.pipeline import (_GROUP_MIN_DUP, _GROUP_MIN_ROWS,
                                   _post_sidepath_stages, final_projection,
                                   grouped_scatter_plan, int32_or_null)
    from ..sources.geojson_scan import unpack_tags

    int_cols = [f.name for f in OUTPUT_SCHEMA.fields
                if isinstance(f.dataType, T.IntegerType)]
    arrow_out = to_arrow_schema(OUTPUT_SCHEMA)
    out_names = list(arrow_out.names)

    def to_out_table(out_pdf: pd.DataFrame) -> pa.Table:
        for c in int_cols:
            # final_projection leaves these numeric; a fractional maxspeed
            # tag ("2.5") reaches proc_maxspeed, so round half-to-even as
            # the output digests do (webways._digest_cell).  The cast
            # raises on what int32 cannot hold: NULL it by the rule
            # final_projection applies (int32_or_null)
            out_pdf[c] = pd.array(int32_or_null(out_pdf[c]).round(),
                                  dtype="Int32")
        return pa.Table.from_pandas(out_pdf[out_names], schema=arrow_out,
                                    preserve_index=False)

    # the kernel is a long chain of vectorized pandas stages whose cost is
    # dominated by per-CALL fixed overhead, not rows — buffer incoming Arrow
    # batches to this many rows per kernel invocation (memory: ~tens of MB
    # of Arrow buffers per worker, bounded)
    target_rows = 131072

    def process(tbl: pa.Table):
        n = tbl.num_rows
        names = tbl.schema.names
        if n < _GROUP_MIN_ROWS or "id" not in names:
            out = _post_sidepath_stages(
                unpack_tags(tbl.to_pandas()), offset_distance=offset_distance)
            yield from to_out_table(out).to_batches()
            return
        tbl = tbl.combine_chunks()
        # mixed-radix signature codes from C++ dictionary encodes,
        # recompressed before int64 overflow (rows sharing a signature
        # are bit-identical tuples)
        sig = np.zeros(n, dtype=np.int64)
        card = 1
        for i, name in enumerate(names):
            if name == "id":
                continue
            denc = pc.dictionary_encode(tbl.column(i).chunk(0))
            k_c = len(denc.dictionary) + 1
            codes_c = denc.indices.fill_null(-1).to_numpy(
                zero_copy_only=False).astype(np.int64)
            if card > (1 << 62) // max(k_c, 1):
                sig = pd.factorize(sig)[0].astype(np.int64)
                card = int(sig.max()) + 1 if n else 1
            sig = sig * k_c + (codes_c + 1)
            card *= k_c
        codes = pd.factorize(sig)[0].astype(np.int64)
        first = np.unique(codes, return_index=True)[1]
        k = len(first)
        if k * _GROUP_MIN_DUP >= n:
            out = _post_sidepath_stages(
                unpack_tags(tbl.to_pandas()), offset_distance=offset_distance)
            yield from to_out_table(out).to_batches()
            return
        # the packed tags are part of the signature above; only the k
        # representative rows are unpacked
        rep = unpack_tags(
            tbl.take(pa.array(first, type=pa.int64())).to_pandas())
        rep["__sig"] = np.arange(k, dtype=np.int64)
        out_rep = _post_sidepath_stages(rep, project=False,
                                        offset_distance=offset_distance)
        out_sig = out_rep["__sig"].to_numpy(dtype=np.int64)
        order, take, rep_row = grouped_scatter_plan(codes, k, out_sig)
        blocks = final_projection(
            out_rep.iloc[order].reset_index(drop=True))
        blk_tbl = to_out_table(blocks)
        out_tbl = blk_tbl.take(pa.array(take, type=pa.int64()))
        ids = pc.take(tbl.column(names.index("id")),
                      pa.array(rep_row, type=pa.int64()))
        out_tbl = out_tbl.set_column(
            out_tbl.schema.get_field_index("id"), arrow_out.field("id"),
            ids)
        yield from out_tbl.to_batches()

    def run(batches):
        buf: list = []
        brows = 0
        for rb in batches:
            if not rb.num_rows:
                continue
            buf.append(rb)
            brows += rb.num_rows
            if brows >= target_rows:
                yield from process(pa.Table.from_batches(buf))
                buf, brows = [], 0
        if buf:
            yield from process(pa.Table.from_batches(buf))

    return ways_with_sidepath.mapInArrow(run, OUTPUT_SCHEMA)


def score_pages(pages: DataFrame) -> DataFrame:
    """pages -> scored way table (the engine's flagship query)."""
    from ..sources.pages import extract_ways
    ways = extract_ways(pages, WAY_TAG_COLUMNS)
    return score_way_table(ways)


def score_way_table(ways: DataFrame,
                    salt_threshold: float | None = None,
                    offset_distance=None) -> DataFrame:
    """Persist posture: `ways` feeds three consumers (paths, roads, final
    writeback join) and `points` feeds both the cell join and the checks
    aggregation —
    without persist the whole upstream (page synthesis -> extraction) would
    recompute per consumer.  On a cluster the same boundaries would be
    persisted (MEMORY_AND_DISK) or checkpointed to an Iceberg snapshot."""
    # url identifies the page, not the way: nothing downstream of
    # extraction consumes it, so it never enters the persisted relation —
    # on a cached web corpus every re-read of a dead column is memory
    # traffic multiplied by the consumer count (3-4 here).
    #
    # (Measured negative, kept out: hash-partitioning this persist by id
    # to pre-satisfy the writeback join's distribution.  AQE wraps cached
    # plans, so their outputPartitioning is unknown at planning time and
    # EnsureRequirements re-exchanges the wide side anyway — the
    # repartition then costs a full extra shuffle pass of the widest
    # relation: local[4] R=400 wall 46.7 s -> 64.4 s.)
    # __iid: per-way int64 dictionary code.  Every shuffled relation
    # downstream of the spatial join — points (one row per sampled
    # point), rcells (one row per covered cell), the refined pair
    # relation, and the per-way aggregates — carries the 8-byte code
    # instead of the id string, and the writeback join hashes longs.
    # The string id stays only on the persisted wide relation, where it
    # is output payload.
    #
    # Key-stability discipline: monotonically_increasing_id is
    # POSITIONAL, so a lost cache block recomputed through any
    # nondeterministic-fetch-order shuffle upstream could reassign codes
    # between consumers and silently unmatch the writeback join on a real
    # cluster.  Two alternatives were weighed: value-hash keys
    # (xxhash64(id)) are recompute-stable but *incompressible* — measured
    # +14.2 MB (+23%) on the flagship shuffle, erasing the entire
    # encoding win, plus a birthday-collision hazard at web scale.  So
    # the codes stay positional and the relation's lineage is TRUNCATED
    # instead (localCheckpoint): a recompute of the id-bearing relation
    # becomes impossible — block loss fails the job loudly rather than
    # silently reassigning keys, and on a real cluster this persist
    # boundary is a reliable checkpoint / Iceberg snapshot anyway
    # (jobs/score_job.py writes exactly that).
    ways = (ways.drop(*[c for c in ("url",) if c in ways.columns])
            .withColumn("__iid", F.monotonically_increasing_id())
            .localCheckpoint(eager=False))
    paths = (ways.filter(F.col("highway").isin(C.PATH_HIGHWAYS))
             .drop("id").withColumnRenamed("__iid", "id"))
    roads = (ways.filter(~F.col("highway").isin(C.ROAD_EXCLUDED_HIGHWAYS)
                         | F.col("highway").isNull())
             .drop("id").withColumnRenamed("__iid", "id"))
    points = sample_points(paths).persist()
    rcells = road_cell_index(roads)
    # pairs has exactly ONE consumer (the count-map aggregation) — caching
    # it would be a pure extra write+read pass of the pair relation
    pairs = dwithin_pairs(points, rcells, salt_threshold)
    agg = sidepath_aggregates(points, pairs)
    # geometry feeds only the spatial-join stages above; the scoring
    # kernel consumes tag attributes (+ geom_metric on pandas-fed tables).
    # Dropping it here keeps the biggest columns out of the writeback
    # shuffle AND the final Arrow boundary — at web scale geometry is the
    # dominant payload of both.
    slim = ways.drop(*[c for c in ("geom_lonlat", "__tsig")
                       if c in ways.columns])
    # (Measured negative, kept out: packing the ~80 mostly-null tag
    # columns into one non-null-entry map<string,string> for the
    # writeback shuffle and GetMapValue-unpacking after the join.  The
    # hypothesis was that UnsafeRow's 8-byte-per-column fixed slots
    # dominate the shuffle; in fact lz4 flattens the null slots almost
    # for free while the map's per-row repeated KEY strings do not:
    # flagship shuffle measured 61.5 MB columnar vs 65.9 MB packed at
    # 200k pages, wall unchanged.  Columnar stays.)
    enriched = apply_sidepath_spark(slim, agg)
    return score_batches(enriched, offset_distance=offset_distance)
