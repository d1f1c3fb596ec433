"""GeoJSON sink (S3 of SURVEY §2.1): scored way table -> GeoJSON.

Small outputs collect to one FeatureCollection file (the reference's
QgsVectorFileWriter path, ref:cycling_quality_index.py:1806); large
outputs write distributed newline-delimited GeoJSON (one Feature per
line, the GeoJSONL convention) so no driver collect happens — each task
serializes its partition with ``to_json`` over a struct column, staying
JVM-side.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from ..operators.dialect import spark_quote as Q


def _feature_struct(df: DataFrame, geometry_col: str | None) -> str:
    props = ", ".join(Q(c, ident=True) for c in df.columns
                      if c != geometry_col)
    members = f"{Q('Feature')} AS type, struct({props}) AS properties"
    if geometry_col is None:
        # no geometry member at all: every row takes the _no_geom path
        # and _NULL_GEOM splices the explicit '"geometry":null' after
        # serialization (a NULL member would be dropped by
        # ignoreNullFields anyway)
        return f"struct({members})"
    # a row-level NULL geometry must null the whole member: serializing
    # the struct as-is would emit {"type":"LineString"} with the
    # coordinates member dropped by ignoreNullFields — spec-invalid
    # (RFC 7946 §3.1.4 requires coordinates in every LineString)
    g = Q(geometry_col, ident=True)
    return (f"struct({members}, CASE WHEN {g} IS NOT NULL THEN"
            f" struct({Q('LineString')} AS type, {g} AS coordinates) END"
            f" AS geometry)")


# to_json's default ignoreNullFields drops null struct members, which is
# right for null PROPERTIES (OGR omits unset attributes) but spec-fatal
# for the geometry member: RFC 7946 requires every Feature to carry a
# "geometry" key, null or not, and strict parsers reject lines without
# it.  Keep the default for the feature body and splice an explicit
# "geometry":null into geometry-less features after serialization —
# both when the COLUMN is absent and when a ROW's geometry is NULL.
_NULL_GEOM = ("concat(substring(value, 1, length(value) - 1), "
              + Q(',"geometry":null}') + ")")


def _features_json(df: DataFrame, gcol: str | None):
    """One Feature JSON string per row, as two SQL projections: the
    properties struct lists every column, and a Column-API call per
    column would cost about 45 Py4J round trips each."""
    no_geom = "true" if gcol is None else f"{Q(gcol, ident=True)} IS NULL"
    feats = df.selectExpr(f"to_json({_feature_struct(df, gcol)}) AS value",
                          f"{no_geom} AS _no_geom")
    return feats.selectExpr(
        f"CASE WHEN _no_geom THEN {_NULL_GEOM} ELSE value END AS value")


def write_geojsonl(df: DataFrame, path: str,
                   geometry_col: str | None = "geom_lonlat") -> None:
    """Distributed newline-delimited GeoJSON (no driver materialization)."""
    gcol = geometry_col if geometry_col in df.columns else None
    _features_json(df, gcol).write.mode("overwrite").text(path)


def collect_feature_collection(df: DataFrame,
                               geometry_col: str | None = "geom_lonlat",
                               limit: int = 100_000) -> dict:
    """Driver-side FeatureCollection for small exports (golden-diff sized)."""
    gcol = geometry_col if geometry_col in df.columns else None
    rows = _features_json(df, gcol).limit(limit).collect()
    return {"type": "FeatureCollection",
            "features": [json.loads(r["value"]) for r in rows]}
