"""GeoJSON <-> pandas for small inputs and the golden test corpus.

The Spark engine reads parquet/pages tables; this module only serves the
fixture/golden path (ref:src/io/loader.py) and small exports.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from .geometry import lonlat_to_metric


def read_geojson_lines(path: str) -> pd.DataFrame:
    """FeatureCollection -> DataFrame (LineString features only,
    ref:cycling_quality_index.py:1452).  Adds `geom_lonlat` and `geom_metric`
    coordinate-array columns."""
    with open(path, encoding="utf-8") as fh:
        fc = json.load(fh)
    rows = []
    for feat in fc.get("features", []):
        geom = feat.get("geometry") or {}
        if geom.get("type") != "LineString":
            continue
        props = dict(feat.get("properties") or {})
        props["geom_lonlat"] = np.asarray(geom["coordinates"], dtype=float)
        rows.append(props)
    df = pd.DataFrame(rows)
    if df.empty:
        # zero LineString features: return the documented columns rather
        # than KeyError on df["geom_lonlat"]
        return pd.DataFrame({"geom_lonlat": [], "geom_metric": []})
    # tags arrive as strings; normalize missing to None (single dict->frame
    # rebuild, not per-column inserts — avoids pandas fragmentation)
    data = {
        c: (df[c] if c == "geom_lonlat"
            else df[c].astype(object).where(pd.notna(df[c]), None))
        for c in df.columns
    }
    data["geom_metric"] = [
        np.column_stack(lonlat_to_metric(g[:, 0], g[:, 1]))
        for g in df["geom_lonlat"]
    ]
    return pd.DataFrame(data)


def _json_default(v):
    """iterrows yields numpy scalars (np.int64 is NOT json-serializable;
    np.float64 only passes because it subclasses float) — unwrap them."""
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, np.ndarray):
        return v.tolist()
    raise TypeError(f"not JSON serializable: {type(v)}")


def write_geojson(df: pd.DataFrame, path: str,
                  coords_col: str = "geom_lonlat") -> None:
    feats = []
    for _, row in df.iterrows():
        props = {k: (None if (isinstance(v, float) and np.isnan(v)) else v)
                 for k, v in row.items()
                 if k not in (coords_col, "geom_metric", "geom_lonlat")}
        geom = None
        # pandas marks a missing geometry as float NaN, not None — both
        # must serialize as "geometry": null, never "coordinates": NaN
        g = row[coords_col] if coords_col in df.columns else None
        if g is not None and not (isinstance(g, float) and np.isnan(g)):
            geom = {"type": "LineString",
                    "coordinates": np.asarray(g).tolist()}
        feats.append({"type": "Feature", "properties": props,
                      "geometry": geom})
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh,
                  ensure_ascii=False, default=_json_default)
