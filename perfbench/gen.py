"""Seeded input generators, one per workload.

Every generator draws from ``numpy.random.default_rng(seed)`` only and
writes its files in a fixed order with fixed formatting, so the same seed
gives byte-identical files.  The engine receives only these files.

Way corpora are built from *blocks*: one road plus 1-3 paths drawn
parallel to it.  ``urban`` blocks sit within 22 m of their road and are
packed around Zipf-weighted hotspots (hot join cells, heavy tag
duplication); ``rural`` blocks get one grid cell each over a
wide area, with paths 100-250 m from their road and per-way unique tag
values.  Isolated blocks (rural, and the micro-batch pool) never interact
spatially, so the scored output of any subset of blocks is the union of
the blocks' own outputs.
"""

from __future__ import annotations

import json
import os

import numpy as np

LON0, LAT0 = 13.40, 52.50          # inside UTM zone 33N (the engine's CRS)
M_PER_DEG_LAT = 110_540.0
M_PER_DEG_LON = 111_320.0 * np.cos(np.radians(LAT0))

URBAN_ROAD_HW = ["residential", "tertiary", "secondary", "primary",
                 "unclassified", "living_street", "service"]
URBAN_ROAD_P = [0.35, 0.2, 0.15, 0.1, 0.1, 0.05, 0.05]
URBAN_NAMES = ["Hauptstrasse", "Bahnhofstrasse", "Gartenweg", "Ringstrasse",
               "Schulstrasse", "Kirchweg"]
PATH_HW = ["cycleway", "footway", "path"]
RURAL_ROAD_HW = ["unclassified", "tertiary", "secondary", "residential"]
SURFACES = ["asphalt", "paving_stones", "sett", "compacted", "fine_gravel",
            "concrete", "gravel", "ground"]


def _pick(rng, vals, p=None):
    return vals[int(rng.choice(len(vals), p=p))]


def _polyline(cx, cy, theta, length, bend, offset):
    """3-vertex polyline in local metres, shifted `offset` along the
    normal of its chord (parallel copies of one road)."""
    c, s = np.cos(theta), np.sin(theta)
    local = np.array([[-length / 2, offset], [0.0, offset + bend],
                      [length / 2, offset]])
    x = cx + local[:, 0] * c - local[:, 1] * s
    y = cy + local[:, 0] * s + local[:, 1] * c
    return x, y


def _lonlat(x, y):
    return [[round(LON0 + xi / M_PER_DEG_LON, 7),
             round(LAT0 + yi / M_PER_DEG_LAT, 7)] for xi, yi in zip(x, y)]


def urban_style(rng) -> tuple[dict, list[dict]]:
    """Tags of one street: its road, and the path at each of up to three
    offsets.  Urban blocks of one hotspot share a style, so tag tuples
    repeat heavily."""
    hw = _pick(rng, URBAN_ROAD_HW, URBAN_ROAD_P)
    road = {"highway": hw,
            "maxspeed": "30" if hw in ("residential", "living_street")
            else "50",
            "surface": "asphalt", "lit": "yes"}
    if hw in ("secondary", "primary"):
        road["lanes"] = "2"
        road["cycleway:right"] = _pick(rng, ["lane", "no"])
    paths = []
    for k in range(3):
        p = {"highway": PATH_HW[k],
             "surface": _pick(rng, SURFACES[:2]),
             "width": _pick(rng, ["1.5", "2.5"])}
        if p["highway"] != "footway":
            p["bicycle"] = "designated"
            p["segregated"] = _pick(rng, ["yes", "no"])
        paths.append(p)
    return road, paths


def _rural_tags(rng, uid, is_road):
    if is_road:
        return {"highway": _pick(rng, RURAL_ROAD_HW),
                "name": f"Landstrasse {uid}",
                "maxspeed": str(int(rng.integers(20, 101))),
                "width": f"{rng.uniform(3.0, 9.0):.1f}",
                "surface": _pick(rng, SURFACES),
                "lanes": str(int(rng.integers(1, 4)))}
    return {"highway": _pick(rng, PATH_HW),
            "name": f"Feldweg {uid}",
            "width": f"{rng.uniform(1.0, 4.0):.2f}",
            "surface": _pick(rng, SURFACES),
            "smoothness": _pick(rng, ["excellent", "good", "intermediate",
                                      "bad"]),
            "bicycle": _pick(rng, ["designated", "yes"]),
            "incline": f"{int(rng.integers(-9, 10))}%"}


# Hotspots are the cells of a 7 x 7 km grid, weighted by Zipf(1.1) in a
# seeded order.  A block stays within ~330 m of its hotspot's centre, so
# blocks of different hotspots never come within 22 m of each other, and
# every road of one hotspot carries the hotspot's street name: a path
# never sees two road names with tied counts.  (The engine and the pandas
# reference path break such a tie in the sidepath name vote differently:
# alphabetical first versus first seen.)
N_HOT = 48

# kind -> (placement, tag vocabulary, path offset range in m)
KINDS = {"urban": ("hot", "urban", (4, 16)),
         "rural": ("grid", "rural", (100, 250)),
         "pool": ("grid", "urban", (4, 16))}


def blocks(rng, n_blocks: int, kind: str, prefix: str = "w"):
    """-> list of blocks; a block is a list of (id, tags, lonlat coords),
    road first.  Block i carries 1 + i % 3 paths, so the way count is
    exactly 3 * n_blocks for n_blocks divisible by 3."""
    placement, vocab, (off_lo, off_hi) = KINDS[kind]
    styles = [urban_style(rng) for _ in range(N_HOT)]
    if placement == "hot":
        w = 1.0 / np.arange(1, N_HOT + 1) ** 1.1
        spot = rng.permutation(N_HOT)[
            rng.choice(N_HOT, size=n_blocks, p=w / w.sum())]
    side = int(np.ceil(np.sqrt(n_blocks)))
    out = []
    for b in range(n_blocks):
        if placement == "hot":
            cell = spot[b]
            cx, cy = ((cell % 7) * 1_000.0 + 500 + rng.uniform(-150, 150),
                      (cell // 7) * 1_000.0 + 500 + rng.uniform(-150, 150))
        else:                      # one 1 km grid cell per block
            cell = b % N_HOT
            cx = (b % side) * 1_000.0 + rng.uniform(350, 650)
            cy = (b // side) * 1_000.0 + rng.uniform(350, 650)
        theta = rng.uniform(0, np.pi)
        length = rng.uniform(140, 320)
        bend = rng.uniform(-6, 6)
        layer = "1" if rng.random() < 0.05 else None
        ways = []
        for k in range(2 + b % 3):
            is_road = k == 0
            if vocab == "urban":
                road, paths = styles[cell]
                tags = dict(road, name=URBAN_NAMES[cell % len(URBAN_NAMES)]) \
                    if is_road else dict(paths[k - 1])
            else:
                tags = _rural_tags(rng, int(rng.integers(10**8)), is_road)
            off = 0.0 if is_road else (rng.choice([-1, 1])
                                       * rng.uniform(off_lo, off_hi))
            if layer is not None:
                tags["layer"] = layer
            plen = length if is_road else length * rng.uniform(0.6, 1.0)
            x, y = _polyline(cx, cy, theta, plen, bend, off)
            ways.append((f"{prefix}{b}_{k}", tags, _lonlat(x, y)))
        out.append(ways)
    return out


def feature_line(wid, tags, coords) -> str:
    props = {"id": wid, **tags}
    return json.dumps({"type": "Feature", "properties": props,
                       "geometry": {"type": "LineString",
                                    "coordinates": coords}},
                      separators=(",", ":"))


def write_geojsonl(path: str, ways) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for wid, tags, coords in ways:
            fh.write(feature_line(wid, tags, coords) + "\n")


def way_corpus(seed: int, kind: str, n_blocks: int):
    rng = np.random.default_rng([seed, list(KINDS).index(kind)])
    return [w for blk in blocks(rng, n_blocks, kind) for w in blk]


# --- micro-batch page files -------------------------------------------------

PAGE_EPOCH_S = 1_704_067_200       # 2024-01-01T00:00:00Z


def page_batches(seed: int, pool_blocks: int, batch_blocks: int,
                 n_batches: int):
    """Pool of isolated urban-vocabulary blocks plus, per micro-batch, a
    seeded choice of `batch_blocks` of them under batch-unique ids.
    -> (pool blocks, [[(block index, id suffix)]] per batch)."""
    rng = np.random.default_rng([seed, 3])
    pool = blocks(rng, pool_blocks, "pool", prefix="p")
    picks = [rng.choice(pool_blocks, size=batch_blocks, replace=False)
             for _ in range(n_batches)]
    return pool, [[(int(i), f"_b{j}") for i in sorted(p)]
                  for j, p in enumerate(picks)]


def write_page_file(path: str, ways, mtime_s: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cqi_engine.sources.pages import page_row

    rows = [page_row(wid, {"id": wid, **tags}, coords)
            for wid, tags, coords in ways]
    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    tbl = pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": [r["warc_ts"] for r in rows],
        "html": [r["html"] for r in rows],
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
    }, schema=schema)
    pq.write_table(tbl, path)
    os.utime(path, (mtime_s, mtime_s))


# --- catalog tables ---------------------------------------------------------

def catalog_tables(seed: int, n_customer: int, n_supplier: int):
    """customer / supplier / nation frames with the catalog's schemas.
    Keys are sampled without replacement; the catalog derives point
    coordinates from them."""
    import pandas as pd

    rng = np.random.default_rng([seed, 5])
    ck = np.sort(rng.choice(10_000_000, size=n_customer, replace=False))
    sk = np.sort(rng.choice(1_000_000, size=n_supplier, replace=False))
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    customer = pd.DataFrame({
        "c_custkey": ck.astype(np.int64),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_customer).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customer), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_customer)],
    })
    supplier = pd.DataFrame({
        "s_suppkey": sk.astype(np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supplier).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supplier), 2),
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    return {"customer": customer, "supplier": supplier, "nation": nation}


def write_catalog(dirpath: str, tables) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dirpath, exist_ok=True)
    for name, df in tables.items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(dirpath, f"{name}.parquet"))


# --- input properties -------------------------------------------------------

def join_candidates(ways) -> int:
    """Candidate (point, road-cell) rows the engine's cell equi-join emits
    before the exact 22 m refine: the engine's own numpy samplers and cell
    decomposition, counted per (cell, layer) with NULL == NULL."""
    from collections import Counter

    from cqi_engine import config as C
    from cqi_engine.geometry import (lonlat_to_metric,
                                     sample_points_along_batch,
                                     segment_cells_clipped_batch)
    from cqi_engine.operators import cells

    def metric(sel):
        g = [np.asarray(w[2], dtype=float) for w in sel]
        offs = np.r_[0, np.cumsum([len(a) for a in g])]
        if not g:
            return np.empty((0, 2)), offs
        allg = np.concatenate(g)
        x, y = lonlat_to_metric(allg[:, 0], allg[:, 1])
        return np.column_stack([x, y]), offs

    csize = cells.cell_size(cells.JOIN_RES)
    paths = [w for w in ways if w[1].get("highway") in C.PATH_HIGHWAYS]
    roads = [w for w in ways
             if w[1].get("highway") not in C.ROAD_EXCLUDED_HIGHWAYS]
    M, offs = metric(paths)
    way, _seq, px, py = sample_points_along_batch(
        M, offs, C.SIDEPATH_SAMPLE_SPACING_M)
    pt = Counter(zip(np.floor(px / csize).astype(np.int64).tolist(),
                     np.floor(py / csize).astype(np.int64).tolist(),
                     [paths[i][1].get("layer") for i in way]))
    M, offs = metric(roads)
    rway, ix, iy, _ = segment_cells_clipped_batch(
        M, offs, csize, C.SIDEPATH_BUFFER_SIZE_M)
    rc = Counter(zip(ix.tolist(), iy.tolist(),
                     [roads[i][1].get("layer") for i in rway]))
    return int(sum(n * rc.get(k, 0) for k, n in pt.items()))


def way_properties(ways) -> dict:
    from cqi_engine import config as C

    n_path = sum(w[1].get("highway") in C.PATH_HIGHWAYS for w in ways)
    tuples = {tuple(sorted(w[1].items())) for w in ways}
    return {"ways": len(ways), "paths": n_path, "roads": len(ways) - n_path,
            "join.candidates": join_candidates(ways),
            "tag_distinct_ratio": round(len(tuples) / max(len(ways), 1), 4)}
