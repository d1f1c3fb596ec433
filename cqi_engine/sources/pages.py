"""Common-Crawl-style `pages` source (BASELINE.json input_hint).

Schema: url:string, warc_ts:timestamp, html:binary, text:string, lang:string.

Synthesis is fully deterministic (seeded SHA-256 derivations, no RNG state):
each OSM way is embedded into exactly one page's ``text`` inside a plain-text
envelope; extraction parses the envelope back into the way table.  The
``text`` bytes round-trip byte-identically per url (BASELINE per-row
invariant), verified by tests/test_spark_pipeline.py::test_text_byte_identity.

The envelope format lives here only; the documents path
(``webways.py``) maps doc ids to clones of way records and calls
``page_row`` or, for the way table, skips the text altogether.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .geojson_scan import way_layout

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

_ENVELOPE_HEAD = "=== OSM WAY RECORD ==="
_ENVELOPE_TAIL = "=== END RECORD ==="
_LANGS = ["en", "de", "es", "fr"]
_EPOCH = dt.datetime(2024, 1, 1)


def _h(s: str) -> int:
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")


_FILLER_WORDS = ["cycle", "road", "path", "quality", "survey", "street",
                 "crossing", "junction", "asphalt", "track"]


def _filler(way_id: str) -> str:
    """Deterministic filler prose for one page (seeded by way id)."""
    seed = _h("filler:" + way_id)
    return " ".join(_FILLER_WORDS[(seed >> (4 * i)) % len(_FILLER_WORDS)]
                    for i in range(12))


def way_to_text(way_id: str, tags: dict, coords: list[list[float]]) -> str:
    """Deterministic plain-text envelope carrying one way record."""
    tag_json = json.dumps({k: v for k, v in sorted(tags.items())
                           if v is not None}, ensure_ascii=False)
    coord_json = json.dumps([[float(a), float(b)] for a, b in coords])
    return (f"{_ENVELOPE_HEAD}\nid: {way_id}\ntags: {tag_json}\n"
            f"geom: {coord_json}\n{_ENVELOPE_TAIL}\n{_filler(way_id)}\n")


def page_url(way_id: str) -> str:
    return f"https://fixture.test/way/{way_id}"


def page_row(way_id: str, tags: dict, coords: list[list[float]]) -> dict:
    text = way_to_text(way_id, tags, coords)
    seed = _h("page:" + way_id)
    return {
        "url": page_url(way_id),
        "warc_ts": _EPOCH + dt.timedelta(seconds=seed % (365 * 24 * 3600)),
        "html": (b"<!doctype html><html><body><pre>" + text.encode("utf-8")
                 + b"</pre></body></html>"),
        "text": text,
        "lang": _LANGS[seed % len(_LANGS)],
    }


def way_records(ways: pd.DataFrame) -> list[tuple[str, dict, np.ndarray]]:
    """(way_id, tags, lonlat coords) per row of a way frame: the non-null
    tags, with ``id`` set to the string way id."""
    out = []
    for _, row in ways.iterrows():
        tags = {c: row[c] for c in ways.columns
                if c not in ("geom_lonlat", "geom_metric")
                and row[c] is not None}
        wid = str(tags.get("id", "way"))
        tags["id"] = wid
        out.append((wid, tags,
                    np.asarray(row["geom_lonlat"], dtype=float)))
    return out


def synthesize_pages_pdf(ways: pd.DataFrame) -> pd.DataFrame:
    """One page per way."""
    return pd.DataFrame([page_row(wid, tags, coords.tolist())
                         for wid, tags, coords in way_records(ways)])


def pages_dataframe(spark: SparkSession, ways: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(synthesize_pages_pdf(ways),
                                 schema=PAGES_SCHEMA)


def parse_way_text(text: str) -> dict | None:
    """Inverse of way_to_text — extraction kernel (runs inside mapInPandas)."""
    if text is None or _ENVELOPE_HEAD not in text:
        return None
    try:
        body = text.split(_ENVELOPE_HEAD, 1)[1].split(_ENVELOPE_TAIL, 1)[0]
        lines = [ln for ln in body.strip().split("\n")]
        rec: dict = {}
        for ln in lines:
            key, _, val = ln.partition(": ")
            if key == "id":
                rec["id"] = val
            elif key == "tags":
                tags = json.loads(val)
                if not isinstance(tags, dict):
                    # valid JSON but not an object ('tags: 3',
                    # 'tags: [1,2]'): rec.update() would raise TypeError
                    # and kill the task for one dirty page — quarantine
                    return None
                rec.update(tags)
            elif key == "geom":
                rec["geom_lonlat"] = json.loads(val)
        return rec
    except (ValueError, TypeError, json.JSONDecodeError, IndexError):
        return None


def extract_ways(pages: DataFrame, tag_columns: list[str]) -> DataFrame:
    """pages -> way table (S1 of SURVEY §2.1): url, then the
    ``geojson_scan.way_layout`` of the requested tags and geom_lonlat.

    Vectorized text extraction via mapInPandas; the parse itself is
    string-splitting over Arrow batches (no JVM round trips per row).
    Each page yields its url, a map of its non-null tags as strings and
    its geometry; the layout projection runs JVM-side.
    """
    out_schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("geom_lonlat",
                      T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])

    def _extract(batches):
        for pdf in batches:
            recs = []
            for url, text in zip(pdf["url"], pdf["text"]):
                rec = parse_way_text(text)
                # quarantine pages whose envelope parses but carries no
                # usable geometry (truncated records): a None geom would
                # reach the vectorized samplers as len(None) and kill
                # the task for one dirty row.  Same position contract as
                # read_geojsonl: >= 2 positions, each >= 2 numbers,
                # sliced to XY (OGR keeps XY of 3D positions).
                if rec is None:
                    continue
                g = rec.pop("geom_lonlat", None)
                if (not isinstance(g, list) or len(g) < 2
                        or any(not isinstance(p, (list, tuple))
                               or len(p) < 2
                               or not all(isinstance(x, (int, float))
                                          and not isinstance(x, bool)
                                          for x in p[:2])
                               for p in g)):
                    # element types matter too: json.loads happily yields
                    # null/str/nested-list ordinates, and float(None)
                    # outside this guard would kill the task for one row
                    continue
                recs.append((url,
                             {k: str(v) for k, v in rec.items()
                              if v is not None},
                             [[float(p[0]), float(p[1])] for p in g]))
            yield pd.DataFrame(recs, columns=["url", "tags", "geom_lonlat"])

    return (pages.select("url", "text").mapInPandas(_extract, out_schema)
            .selectExpr("url", *way_layout("tags", tag_columns,
                                           "geom_lonlat")))
