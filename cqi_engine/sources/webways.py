"""documents -> ways -> scored ways: the flagship web-scale path.

Each row of the driver's ``documents`` table deterministically stands for
one Common-Crawl-style page (url, warc_ts, html, text, lang — BASELINE.json
``input_hint`` shape) whose ``text`` embeds one OSM way record.  The way's
tags are drawn cyclically from the 138-way reference fixture corpus
(`/root/reference/data/test_ways/test_ways.geojson`, read-only input data),
and its geometry is shifted by a per-doc deterministic offset so that the
spatial join only ever matches ways synthesized from the same source doc
block — keeping the join selective at any scale.  ``doc_ways`` is that
mapping, and every path here calls it: ``pages_from_documents`` renders
the pages (``pages.page_row``), ``ways_from_documents`` builds the way
table straight from the records without any page text, and
``ways_pandas`` is the single-process reference that round-trips the
text.

The fixture records are read on the driver and captured in the task
closure (138 small tuples); synthesis and scoring run in mapInPandas
Arrow batches.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..io import read_geojson_lines
from .geojson_scan import way_layout
from .pages import PAGES_SCHEMA, page_row, page_url, way_records

FIXTURE_WAYS = "/root/reference/data/test_ways/test_ways.geojson"


@functools.lru_cache(maxsize=1)
def fixture_way_records() -> list[tuple[str, dict, np.ndarray]]:
    """(way_id, tags, lonlat_coords) for the 138 fixture ways, plus one
    synthetic (path, road) pair 10 m apart.

    The reference corpus's own sidepath fixtures sit 22.24 m from their
    mainroads — just outside the 22 m buffer (the golden file scores them
    all ``proc_sidepath: no``), so without the extra pair the web-scale
    spatial join would only ever exercise its negative path.  The synthetic
    pair makes every clone block produce genuine dwithin matches and
    highway/maxspeed/name transfers (A1-A5) at any scale.
    """
    from ..geometry import (lonlat_to_metric, metric_to_lonlat,
                            offset_polyline)

    out = way_records(read_geojson_lines(FIXTURE_WAYS))
    base = next(c for i, t, c in out if i == "sidepath_check01")
    x, y = lonlat_to_metric(base[:, 0], base[:, 1])
    path_metric = np.column_stack([x, y])
    road_metric = offset_polyline(path_metric, 10.0)
    rlon, rlat = metric_to_lonlat(road_metric[:, 0], road_metric[:, 1])
    out.append(("scalepair_path", {
        "id": "scalepair_path", "highway": "path", "bicycle": "yes",
        "segregated": "no", "surface": "asphalt", "width": "2.5",
    }, base.copy()))
    out.append(("scalepair_road", {
        "id": "scalepair_road", "highway": "secondary",
        "name": "Scale Pair Road", "maxspeed": "50", "surface": "asphalt",
    }, np.column_stack([rlon, rlat])))
    return out


def doc_ways(fixtures: list, doc_ids):
    """The doc -> way mapping, one group per fixture record.

    Doc ``d`` takes record ``d % len(fixtures)`` in clone block
    ``d // len(fixtures)``.  A clone keeps the record's tags; its way id
    is the base id suffixed with the block number (none in block 0), and
    its longitudes are shifted by one fixed step per block, so the blocks
    never interact spatially.  Yields ``(rows, tags, way_ids, lonlat)``:
    the positions in ``doc_ids`` that use one record, its tags (``id``
    still the base id) and, per row, the clone's id and its (points, 2)
    lon/lat array.
    """
    clones, fi = np.divmod(np.asarray(doc_ids, dtype=np.int64),
                           len(fixtures))
    for f in np.unique(fi):
        rows = np.nonzero(fi == f)[0]
        base_id, tags, coords = fixtures[f]
        cl = clones[rows]
        lonlat = np.repeat(coords[None], len(rows), axis=0)
        lonlat[:, :, 0] += 0.2 * cl[:, None]  # ~14 km per clone block
        yield rows, tags, [base_id if c == 0 else f"{base_id}__d{c}"
                           for c in cl.tolist()], lonlat


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Distributed page synthesis: one page per document row."""
    fixtures = fixture_way_records()

    def gen(batches):
        for pdf in batches:
            pages = [None] * len(pdf)
            for rows, tags, wids, lonlat in doc_ways(fixtures, pdf["doc_id"]):
                for r, wid, g in zip(rows.tolist(), wids, lonlat):
                    pages[r] = page_row(wid, dict(tags, id=wid), g.tolist())
            yield pd.DataFrame(
                pages, columns=[f.name for f in PAGES_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(gen, PAGES_SCHEMA)


def ways_from_documents(docs: DataFrame) -> DataFrame:
    """doc_id -> way row in ONE mapInPandas stage, without page text.

    The rows equal what ``pages.extract_ways`` reads back from
    ``pages_from_documents`` (tags as ``str`` of the non-null values,
    ``id`` the clone id; geometry bit-exact, since the envelope's float
    reprs parse back to the same doubles), checked by
    ``tests/test_ops_modules.py::test_fused_ways_match_unfused_extract_bitwise``.
    Rows are assembled per fixture record (``doc_ways``), leave Python as
    (url, tag map, geometry) and take the way table's layout in the same
    JVM-side projection as ``extract_ways`` (``geojson_scan.way_layout``).
    """
    from .. import config as C

    # materialized DRIVER-side and shipped in the task closure: the
    # records come from the reference fixture file, which exists on the
    # driver's filesystem only (--py-files ships code, not data)
    fixtures = [(wid, {k: str(v) for k, v in tags.items() if v is not None},
                 coords) for wid, tags, coords in fixture_way_records()]
    out_schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        # FLAT interleaved lon,lat doubles: one Arrow values+offsets
        # buffer pair per batch instead of one child array per point (the
        # pipeline dual-accepts flat/nested, see
        # operators.pipeline._flat_geom) — roughly halves the synthesis
        # stage's Arrow output and the `ways` persist footprint
        T.StructField("geom_lonlat", T.ArrayType(T.DoubleType())),
    ])

    def gen(batches):
        for pdf in batches:
            cols = {c: np.empty(len(pdf), dtype=object)
                    for c in ("url", "tags", "geom_lonlat")}
            for rows, tags, wids, lonlat in doc_ways(fixtures, pdf["doc_id"]):
                cols["url"][rows] = [page_url(w) for w in wids]
                cols["tags"][rows] = [dict(tags, id=w) for w in wids]
                cols["geom_lonlat"][rows] = list(
                    lonlat.reshape(len(rows), -1))
            yield pd.DataFrame(cols, copy=False)

    return (docs.select("doc_id").mapInPandas(gen, out_schema)
            .selectExpr("url", *way_layout("tags", C.TAG_WHITELIST,
                                           "geom_lonlat")))


def score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query: documents table -> scored way table."""
    from ..operators.pipeline import score_way_table
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return score_way_table(ways_from_documents(docs))


FLAGSHIP_PROJECTION = ["id", "side", "way_type", "index", "stress_level"]

# --------------------------------------------------------------------------
# full-output value oracle: a deterministic per-row digest of ALL 38 scored
# columns.  The digest canonicalization is shared verbatim between the
# distributed pipeline (digest_scored, mapInPandas) and the pandas reference
# path (flagship_full_expected -> scripts/gen_flagship_fixture.py), so a
# value difference in ANY of the 38 columns — not just the 5-column
# FLAGSHIP_PROJECTION — flips the sha and fails the driver compare.
# --------------------------------------------------------------------------

_DIGEST_INT_COLS = frozenset((
    "index", "index_10", "stress_level", "base_index", "proc_maxspeed",
    "filter_usable"))
_DIGEST_FLOAT_COLS = frozenset((
    "offset", "proc_width", "proc_buffer_left", "proc_buffer_right",
    "fac_width", "fac_surface", "fac_highway", "fac_maxspeed",
    "fac_1", "fac_2", "fac_3", "fac_4", "data_incompleteness"))


def _digest_cell(col: str, v) -> str:
    if v is None or v is pd.NA or (isinstance(v, float) and np.isnan(v)):
        return ""
    if col in _DIGEST_INT_COLS:
        return str(int(round(float(v))))
    if col in _DIGEST_FLOAT_COLS:
        # fixed 9-dp rounding: well inside the kernel's deterministic
        # precision, stable across Arrow float64 round trips
        return repr(round(float(v), 9))
    return str(v)


def digest_rows_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """(id, side, row_sha) for each scored row; row_sha covers all 38
    output columns in config.OUTPUT_COLUMNS order."""
    import hashlib

    from .. import config as C

    cols = list(C.OUTPUT_COLUMNS)
    out_id, out_side, out_sha = [], [], []
    cells = [[_digest_cell(c, v) for v in pdf[c]] for c in cols]
    side_i = cols.index("side")
    id_i = cols.index("id")
    for r in range(len(pdf)):
        payload = "\x1f".join(cells[c][r] for c in range(len(cols)))
        out_id.append(cells[id_i][r])
        out_side.append(cells[side_i][r])
        out_sha.append(hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16])
    return pd.DataFrame({"id": out_id, "side": out_side, "row_sha": out_sha})


def digest_scored(scored: DataFrame) -> DataFrame:
    """Distributed digest of the full scored table (pure map, no shuffle)."""
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("side", T.StringType()),
        T.StructField("row_sha", T.StringType()),
    ])

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield digest_rows_pdf(pdf)

    return scored.mapInPandas(run, schema)


def scored_pandas(sf_dir: str) -> pd.DataFrame:
    """Full scored frame from the PANDAS reference path (the expensive
    step both flagship expectations project from — compute it once when
    you need both)."""
    from ..kernel.pipeline import final_projection, score_ways
    return final_projection(score_ways(ways_pandas(sf_dir)))


def flagship_full_expected(sf_dir: str,
                           scored: pd.DataFrame | None = None
                           ) -> pd.DataFrame:
    """(id, side, row_sha) from the PANDAS reference path — the fixture
    the distributed full-output digest is graded against."""
    if scored is None:
        scored = scored_pandas(sf_dir)
    return digest_rows_pdf(scored).reset_index(drop=True)


def ways_pandas(sf_dir: str) -> pd.DataFrame:
    """Single-process twin of :func:`ways_from_documents` for the pandas
    reference path: each doc's page text (``page_row``) parsed back with
    ``parse_way_text``, as ``extract_ways`` would."""
    import duckdb

    from .. import config as C
    from ..geometry import lonlat_to_metric
    from .pages import parse_way_text

    doc_ids = [r[0] for r in duckdb.sql(
        f"select doc_id from '{sf_dir}/documents.parquet' order by doc_id"
    ).fetchall()]
    recs = [None] * len(doc_ids)
    for rows, tags, wids, lonlat in doc_ways(fixture_way_records(), doc_ids):
        for r, wid, g in zip(rows.tolist(), wids, lonlat):
            page = page_row(wid, dict(tags, id=wid), g.tolist())
            rec = parse_way_text(page["text"])
            if rec is None or rec.get("id") != wid:
                raise ValueError(f"byte-identity round trip failed for {wid}")
            row = {c: (None if rec.get(c) is None else str(rec.get(c)))
                   for c in C.TAG_WHITELIST}
            row["geom_lonlat"] = np.asarray(rec["geom_lonlat"], dtype=float)
            recs[r] = row
    ways = pd.DataFrame(recs)
    ways["geom_metric"] = [
        np.column_stack(lonlat_to_metric(g[:, 0], g[:, 1]))
        for g in ways["geom_lonlat"]]
    return ways


def flagship_expected(sf_dir: str,
                      scored: pd.DataFrame | None = None) -> pd.DataFrame:
    """The flagship-oracle expectation: score `sf_dir`'s corpus through the
    PANDAS kernel (the golden-verified single-process reference path —
    kernel/pipeline.py + kernel/sidepath.py, no Spark, no shuffles) and
    project the deterministic integral/string columns.

    This is what the distributed plan is graded against: agreement proves
    the Spark composition (cell join, sidepath aggregation, writeback,
    batch scoring) reproduces the reference semantics, independent of
    partitioning.
    """
    if scored is None:
        scored = scored_pandas(sf_dir)
    return scored[FLAGSHIP_PROJECTION].reset_index(drop=True)
