"""documents -> pages -> scored ways: the flagship web-scale path.

Each row of the driver's ``documents`` table deterministically yields one
Common-Crawl-style page (url, warc_ts, html, text, lang — BASELINE.json
``input_hint`` shape) whose ``text`` embeds one OSM way record.  The way's
tags are drawn cyclically from the 138-way reference fixture corpus
(`/root/reference/data/test_ways/test_ways.geojson`, read-only input data),
and its geometry is shifted by a per-doc deterministic offset so that the
spatial join only ever matches ways synthesized from the same source doc
block — keeping the join selective at any scale.

Everything is distributed: the fixture corpus (138 tiny rows) ships to the
executors as a broadcast-style closure, and page synthesis + extraction +
scoring run in mapInPandas Arrow batches.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import read_geojson_lines
from .geojson_scan import way_layout
from .pages import PAGES_SCHEMA, page_row

FIXTURE_WAYS = "/root/reference/data/test_ways/test_ways.geojson"


@functools.lru_cache(maxsize=1)
def fixture_way_records() -> list[tuple[str, dict, list]]:
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

    ways = read_geojson_lines(FIXTURE_WAYS).drop(columns=["geom_metric"])
    out = []
    for _, row in ways.iterrows():
        tags = {c: row[c] for c in ways.columns
                if c != "geom_lonlat" and row[c] is not None}
        out.append((str(tags.get("id", "way")), tags,
                    np.asarray(row["geom_lonlat"], dtype=float)))

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


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Distributed page synthesis: one page per document row."""
    fixtures = fixture_way_records()
    n_fix = len(fixtures)

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                base_id, tags, coords = fixtures[int(doc_id) % n_fix]
                clone = int(doc_id) // n_fix
                wid = base_id if clone == 0 else f"{base_id}__d{clone}"
                tags = dict(tags)
                tags["id"] = wid
                shifted = coords.copy()
                # 0.2 deg ~ 14 km per clone block: spatially disjoint
                shifted[:, 0] += 0.2 * clone
                rows.append(page_row(wid, tags, shifted.tolist()))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PAGES_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(gen, PAGES_SCHEMA)


_WID_SENTINEL = "@@WID@@"


@functools.lru_cache(maxsize=1)
def _fixture_templates() -> list[tuple]:
    """Per-fixture envelope templates for the fused synthesis path.

    For one fixture, every synthesized page differs only in (a) the way id
    string and (b) the longitude values (shifted 0.2 deg per clone block);
    the tag JSON, latitude reprs, and envelope framing are constant.  Each
    template renders text BYTE-IDENTICAL to ``way_to_text`` (asserted at
    build time against the real serializer for two clone values — template
    drift fails loudly, not silently).

    Returns per fixture: (base_id, tag_prefix, tag_suffix, base_lons,
    lat_strs, tags, base_lats) where tags maps every non-null tag except
    ``id`` to its (constant) parsed value, stringified as ``extract_ways``
    does, and base_lats are the latitudes exactly as the envelope parser
    would return them (``float(lat_str)`` — the same conversion
    ``json.loads`` applies to a plain number token, so direct geometry
    assembly from (shifted lons, base_lats) is bit-identical to rendering
    + re-parsing the text).
    """
    import json as _json

    from ..sources.pages import parse_way_text, way_to_text

    out = []
    for base_id, tags, coords in fixture_way_records():
        tags_sent = dict(tags)
        tags_sent["id"] = _WID_SENTINEL
        tag_json = _json.dumps({k: v for k, v in sorted(tags_sent.items())
                                if v is not None}, ensure_ascii=False)
        if tag_json.count(_WID_SENTINEL) != 1:
            raise AssertionError(f"sentinel collision in fixture {base_id}")
        tag_prefix, tag_suffix = tag_json.split(_WID_SENTINEL)
        base_lons = np.ascontiguousarray(coords[:, 0], dtype=float)
        lat_strs = [repr(float(b)) for b in coords[:, 1]]
        proto = parse_way_text(way_to_text(
            base_id, dict(tags, id=base_id), coords.tolist()))
        const_tags = {k: str(v) for k, v in proto.items()
                      if k not in ("id", "geom_lonlat") and v is not None}
        base_lats = np.array([float(ls) for ls in lat_strs], dtype=float)
        out.append((base_id, tag_prefix, tag_suffix, base_lons, lat_strs,
                    const_tags, base_lats))

    # template-vs-serializer byte identity, checked on real ids
    from ..sources.pages import _ENVELOPE_HEAD, _ENVELOPE_TAIL, _filler
    for fi in (0, len(out) - 1):
        base_id, tp, ts, lons, lat_strs, _tags, _bl = out[fi]
        _bid, tags, coords = fixture_way_records()[fi]
        for clone in (0, 3):
            wid = base_id if clone == 0 else f"{base_id}__d{clone}"
            shifted = coords.copy()
            shifted[:, 0] += 0.2 * clone
            expect = way_to_text(wid, dict(tags, id=wid), shifted.tolist())
            coord_json = "[" + ", ".join(
                f"[{lon!r}, {ls}]" for lon, ls in
                zip((lons + 0.2 * clone).tolist(), lat_strs)) + "]"
            got = (f"{_ENVELOPE_HEAD}\nid: {wid}\ntags: {tp}{wid}{ts}\n"
                   f"geom: {coord_json}\n{_ENVELOPE_TAIL}\n{_filler(wid)}\n")
            if got != expect:
                raise AssertionError(
                    f"template drift for {wid}: {got[:120]!r} != "
                    f"{expect[:120]!r}")
    return out


def ways_from_documents(docs: DataFrame) -> DataFrame:
    """Fused synthesis + extraction: doc_id -> page -> way row in ONE
    mapInPandas stage.

    The unfused path materializes the full pages table (html bytes + text)
    through an extra Arrow round trip just so the next stage can parse it
    back; fusing removes a stage and halves the Python-boundary traffic.
    The byte-identity invariant (BASELINE input_hint) stays live at run
    time: per fixture per batch, the clone-extreme rows' envelope text is
    rendered and round-tripped through the same ``parse_way_text`` the
    unfused reader uses (geometry pinned to the direct assembly), and any
    mismatch raises; every row of every fixture is additionally covered by
    `tests/test_spark_pipeline.py::test_text_byte_identity` against the
    unfused path.

    Row assembly is grouped by fixture: within a batch the ~140 fixtures
    each contribute a run of rows whose tags are one constant map except
    ``id``, and envelope text renders from the per-fixture template
    (`_fixture_templates`, byte-identical to ``way_to_text``).  The rows
    leave Python as (url, tag map, geometry) and take the way table's
    layout in the same JVM-side projection as ``extract_ways``
    (``geojson_scan.way_layout``).
    """
    from pyspark.sql import types as T

    from .. import config as C
    from ..sources.pages import (_ENVELOPE_HEAD, _ENVELOPE_TAIL, _filler,
                                 parse_way_text)

    n_fix = len(fixture_way_records())
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

    # materialized DRIVER-side and shipped in the task closure: the
    # templates derive from the reference fixture file, which exists on
    # the driver's filesystem only — an executor-side call would
    # FileNotFoundError on any real cluster (--py-files ships code, not
    # /root/reference).  ~140 small tuples, closure-sized.
    templates = _fixture_templates()

    def gen(batches):
        for pdf in batches:
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            n = len(doc_ids)
            fi = doc_ids % n_fix
            clones = doc_ids // n_fix
            cols: dict[str, np.ndarray] = {
                c: np.empty(n, dtype=object)
                for c in ("url", "tags", "geom_lonlat")}
            for f in np.unique(fi):
                idx = np.nonzero(fi == f)[0]
                base_id, tp, ts, base_lons, lat_strs, const_tags, \
                    base_lats = templates[int(f)]
                cl = clones[idx]
                wids = [base_id if c == 0 else f"{base_id}__d{c}"
                        for c in cl.tolist()]
                tags = np.empty(len(idx), dtype=object)
                tags[:] = [dict(const_tags, id=w) for w in wids]
                cols["tags"][idx] = tags
                cols["url"][idx] = np.array(
                    [f"https://fixture.test/way/{w}" for w in wids],
                    dtype=object)
                # direct geometry assembly — bit-identical to rendering the
                # envelope and re-parsing it (json.loads(repr(x)) == x for
                # float64; base_lats carries the parser's float(lat_str))
                npts = len(base_lons)
                g = np.empty((len(idx), 2 * npts), dtype=float)
                g[:, 0::2] = base_lons[None, :] + 0.2 * cl[:, None]
                g[:, 1::2] = base_lats[None, :]
                cols["geom_lonlat"][idx] = list(g)
                # live byte-identity invariant, sampled at the clone
                # extremes of this fixture in this batch: render the full
                # envelope text, re-parse it with the unfused reader's
                # parser, and pin the directly-assembled geometry to the
                # parsed one — template or float-repr drift fails loudly
                for j in {int(np.argmin(cl)), int(np.argmax(cl))}:
                    clone, wid = int(cl[j]), wids[j]
                    coord_json = "[" + ", ".join(
                        f"[{lon!r}, {ls}]" for lon, ls in
                        zip((base_lons + 0.2 * clone).tolist(),
                            lat_strs)) + "]"
                    text = (f"{_ENVELOPE_HEAD}\nid: {wid}\ntags: "
                            f"{tp}{wid}{ts}\ngeom: {coord_json}\n"
                            f"{_ENVELOPE_TAIL}\n{_filler(wid)}\n")
                    rec = parse_way_text(text)
                    if (rec is None or rec.get("id") != wid
                            or not np.array_equal(
                                np.asarray(rec["geom_lonlat"],
                                           dtype=float).ravel(), g[j])):
                        raise ValueError(
                            f"byte-identity round trip failed for {wid}")
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
    from pyspark.sql import types as T

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
    """Single-process twin of :func:`ways_from_documents` (same synthesis,
    same byte-identity round trip) for the pandas reference path."""
    import duckdb

    from .. import config as C
    from ..geometry import lonlat_to_metric
    from .pages import parse_way_text

    doc_ids = [r[0] for r in duckdb.sql(
        f"select doc_id from '{sf_dir}/documents.parquet' order by doc_id"
    ).fetchall()]
    fixtures = fixture_way_records()
    n_fix = len(fixtures)
    recs = []
    for doc_id in doc_ids:
        base_id, tags, coords = fixtures[int(doc_id) % n_fix]
        clone = int(doc_id) // n_fix
        wid = base_id if clone == 0 else f"{base_id}__d{clone}"
        tags = dict(tags)
        tags["id"] = wid
        shifted = coords.copy()
        shifted[:, 0] += 0.2 * clone
        page = page_row(wid, tags, shifted.tolist())
        rec = parse_way_text(page["text"])
        if rec is None or rec.get("id") != wid:
            raise ValueError(f"byte-identity round trip failed for {wid}")
        row = {c: (None if rec.get(c) is None else str(rec.get(c)))
               for c in C.TAG_WHITELIST}
        row["geom_lonlat"] = np.asarray(rec["geom_lonlat"], dtype=float)
        recs.append(row)
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
