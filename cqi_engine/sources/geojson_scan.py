"""Distributed GeoJSON scan (S1 of SURVEY §2.1 at scale).

The reference loads one FeatureCollection file through OGR with a
LineString geometry-type filter (ref:cycling_quality_index.py:1452).  At
web scale the engine reads newline-delimited GeoJSON (GeoJSONL — one
Feature per line, the format our sink writes) with ``spark.read.text`` +
``from_json``: fully parallel, no driver-side JSON, filters/pruning pushed
to the text scan.  Classic FeatureCollection files are supported through a
small normalizer that splits them into lines first (driver-side, only for
legacy small files).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config as C
from ..operators.dialect import spark_quote as Q

PACKED_TAGS = "__tags"

_FEATURE_SCHEMA = T.StructType([
    T.StructField("type", T.StringType()),
    T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
    T.StructField("geometry", T.StructType([
        T.StructField("type", T.StringType()),
        T.StructField("coordinates",
                      T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])),
])


def read_geojsonl(spark: SparkSession, path: str,
                  tag_columns: list[str]) -> DataFrame:
    """GeoJSONL -> way table (LineStrings only), distributed.

    Properties land in a MapType, laid out by :func:`way_layout`.
    """
    feats = spark.read.text(path).selectExpr(
        f"from_json(value, {Q(_FEATURE_SCHEMA.simpleString())}) AS f")
    # from_json is permissive (malformed lines parse to NULL and fall out
    # of the type filter); geometry VALIDITY needs its own guard — a
    # claimed LineString with missing coordinates or a single position is
    # invalid per the GeoJSON spec, and the reference's OGR loader never
    # yields such features, so the scan drops them rather than handing
    # the geometry kernels a NULL/degenerate vertex list.
    # ... and the INNER positions need the same care: a null position or
    # a 1-element position crashes/corrupts the vectorized kernels, and a
    # spec-valid 3D (lon, lat, elevation) position would interleave
    # garbage through the flatten-reshape fast path.  Matching OGR: drop
    # features with invalid positions, keep 3D ones but slice to XY.
    # ... including the ordinates: a JSON null inside a position parses
    # to a NULL array element and would flow into the kernels as NaN —
    # only the first two matter (3D slices to XY).
    lines = feats.where(
        f"f.geometry.type = {Q('LineString')}"
        " AND f.geometry.coordinates IS NOT NULL"
        " AND size(f.geometry.coordinates) >= 2"
        " AND forall(f.geometry.coordinates, p -> p IS NOT NULL"
        " AND size(p) >= 2 AND get(p, 0) IS NOT NULL"
        " AND get(p, 1) IS NOT NULL)")
    return lines.selectExpr(*way_layout(
        "f.properties", tag_columns,
        "transform(f.geometry.coordinates, p -> slice(p, 1, 2))"))


def way_layout(props: str, tag_columns: list[str], geom: str) -> list[str]:
    """The way table's ``selectExpr`` list, shared by every way source.

    ``props`` is a ``map<string,string>`` expression of a way's tags and
    ``geom`` its geometry expression.  The requested tags that Spark-side
    operators read (``config.SPARK_TAG_COLUMNS``) become string columns;
    every other requested tag with a non-null value goes into one
    ``__tags`` column, a JSON object with its keys sorted (NULL when there
    are none), which ``score_batches`` unpacks at the kernel's Arrow
    boundary.  Sorted keys make equal tag tuples equal strings, so the
    kernel's grouped path groups exactly as it would on columns, and every
    relation up to the kernel stays about ten columns wide instead of one
    per whitelisted tag.  One ``selectExpr``: a Column-API loop costs 45
    Py4J round trips per tag.
    """
    cols = [f"{props}[{Q(c)}] AS {Q(c, ident=True)}"
            for c in tag_columns if c in C.SPARK_TAG_COLUMNS]
    packed = [c for c in tag_columns if c not in C.SPARK_TAG_COLUMNS]
    if packed:
        keys = ", ".join(Q(c) for c in packed)
        cols.append(
            "nullif(to_json(map_from_entries(array_sort(map_entries("
            f"map_filter({props}, (k, v) -> v IS NOT NULL"
            f" AND k IN ({keys})))))), {Q('{}')})"
            f" AS {Q(PACKED_TAGS, ident=True)}")
    return [*cols, f"{geom} AS geom_lonlat"]


def unpack_tags(pdf: pd.DataFrame) -> pd.DataFrame:
    """Expand ``way_layout``'s packed ``__tags`` JSON objects into one
    string column per key; the rule kernel NULL-fills the tags no row
    carries.  Each distinct string is decoded once.  A real column wins
    over a packed key of the same name (the writeback rewrites ``name``).
    Frames without ``__tags`` pass through unchanged."""
    if PACKED_TAGS not in pdf.columns:
        return pdf
    codes, uniq = pd.factorize(pdf[PACKED_TAGS])
    pdf = pdf.drop(columns=PACKED_TAGS)
    decoded = [json.loads(s) for s in uniq]
    keys = dict.fromkeys(k for d in decoded for k in d
                         if k not in pdf.columns)
    # factorize codes NULL as -1: the appended None
    cols = {k: np.array([d.get(k) for d in decoded] + [None],
                        dtype=object)[codes] for k in keys}
    return pd.concat([pdf, pd.DataFrame(cols, index=pdf.index)], axis=1)


def featurecollection_to_lines(src_path: str, dst_path: str) -> int:
    """Legacy FeatureCollection file -> GeoJSONL (driver-side, small files)."""
    with open(src_path, encoding="utf-8") as fh:
        fc = json.load(fh)
    n = 0
    with open(dst_path, "w", encoding="utf-8") as out:
        for feat in fc.get("features", []):
            out.write(json.dumps(feat, ensure_ascii=False) + "\n")
            n += 1
    return n


def merge_way_files(spark: SparkSession, paths: list[str],
                    tag_columns: list[str]) -> DataFrame:
    """S2 multi-file merge (ref:cycling_quality_index.py:1817-1833):
    enumerate way files, merge (`native:mergevectorlayers` -> unionByName)
    and drop duplicate geometries (`native:deleteduplicategeometries` ->
    dropDuplicates on a canonical geometry key).

    The dedupe key is the exact coordinate sequence serialized to a
    string — byte-stable, so two features are duplicates iff their
    vertex lists are identical (the QGIS semantic).  KEEP-FIRST is part
    of that semantic (deleteduplicategeometries keeps the first feature
    in layer order): the survivor is pinned by (file index, position in
    file), not by whichever row a shuffle partition delivers first —
    dropDuplicates would make the surviving TAGS nondeterministic when
    two imports carry the same geometry with different attributes."""
    if not paths:
        raise ValueError("merge_way_files: empty path list")
    frames = []
    for i, p in enumerate(paths):
        # layer order within one path entry: a path may expand to SEVERAL
        # files (directory/glob), and Spark packs file splits into
        # partitions by size DESCENDING — so monotonically_increasing_id
        # (partition << 33 | row) alone does NOT follow file-name order
        # across those files.  Key by (path index, file name, position):
        # file name is the declared layer order within a directory
        # (part-00000 < part-00001, the writer convention), and within
        # one file equal-size splits keep offset order under Spark's
        # stable size sort, so the mono id is a valid minor key.
        frames.append(read_geojsonl(spark, p, tag_columns)
                      .withColumn("_src", F.lit(i))
                      .withColumn("_file", F.input_file_name())
                      .withColumn("_pos", F.monotonically_increasing_id()))
    merged = frames[0]
    for f in frames[1:]:
        merged = merged.unionByName(f, allowMissingColumns=True)
    from pyspark.sql.window import Window
    geom_key = F.sha2(F.to_json(F.col("geom_lonlat")), 256)
    w = Window.partitionBy("_geom_key").orderBy("_src", "_file", "_pos")
    return (merged.withColumn("_geom_key", geom_key)
            .withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1")
            .drop("_geom_key", "_src", "_file", "_pos", "_rn"))
