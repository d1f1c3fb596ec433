"""Differential test: the Spark flagship path against the pandas reference.

Seeded urban and rural way corpora from the benchmark's generator
(``perfbench/gen.py``, imported read-only) go through the engine's public
path — ``read_geojsonl`` -> ``score_way_table`` -> ``write_geojsonl`` —
and the scored GeoJSONL is read back.  Its multiset of 38-column row
digests must equal the one from ``kernel.pipeline.score_ways`` +
``final_projection`` on the same ways (the benchmark's own output check,
``perfbench/workloads.py``).  Unlike the golden tests this needs no
external snapshot, so it guards the SQL text of the scan, writeback and
sink projections in every run.  The documents path
(``ways_from_documents`` -> ``score_way_table``) is checked the same way
on a generated fixture corpus (``conftest.repo_way_corpus``).
"""

from __future__ import annotations

import collections

import pytest


@pytest.mark.parametrize("kind", ["urban", "rural"])
def test_spark_path_matches_pandas_reference(spark, tmp_path, perfbench,
                                             kind):
    from cqi_engine.operators.pipeline import (WAY_TAG_COLUMNS,
                                               score_way_table)
    from cqi_engine.sources.geojson_scan import read_geojsonl
    from cqi_engine.sources.geojson_sink import write_geojsonl

    gen, wl = perfbench
    ways = gen.way_corpus(11, kind, 30)
    src = str(tmp_path / "ways.geojsonl")
    gen.write_geojsonl(src, ways)
    out = str(tmp_path / "scored")
    write_geojsonl(score_way_table(
        read_geojsonl(spark, src, WAY_TAG_COLUMNS)), out)

    want = wl.reference_scores(ways)
    if kind == "urban":
        # the corpus exercises real sidepath matches (urban paths lie
        # within 22 m of their road; rural ones never do)
        assert (want["proc_sidepath"] == "yes").any()
    got = wl.digests(wl.read_geojsonl_props(out))
    assert sum(got.values()) == len(want)
    assert got == wl.digests(want)


def test_non_finite_and_huge_maxspeed(spark, tmp_path, perfbench):
    """A road's ``maxspeed`` of ``inf``, ``nan`` or ``1e12`` reaches the
    int32 ``proc_maxspeed`` column.  Both paths apply one rule at the output
    boundary: an integer output that is not finite or falls outside int32
    is NULL; ``2.5`` stays a number (rounded half-to-even on the int32
    Spark path, as the digests round it).  Each value sits on the road of
    its own isolated block, so its sidepaths carry it too."""
    from cqi_engine.operators.pipeline import (WAY_TAG_COLUMNS,
                                               score_way_table)
    from cqi_engine.sources.geojson_scan import read_geojsonl
    from cqi_engine.sources.geojson_sink import write_geojsonl

    gen, wl = perfbench
    speeds = {"w0_0": "inf", "w1_0": "nan", "w2_0": "1e12", "w3_0": "2.5"}
    ways = [(wid, {**tags, "maxspeed": speeds[wid]} if wid in speeds
             else tags, coords)
            for wid, tags, coords in gen.way_corpus(3, "pool", 4)]
    src = str(tmp_path / "ways.geojsonl")
    gen.write_geojsonl(src, ways)
    out = str(tmp_path / "scored")
    write_geojsonl(score_way_table(
        read_geojsonl(spark, src, WAY_TAG_COLUMNS)), out)

    want = wl.reference_scores(ways)
    got = wl.read_geojsonl_props(out)
    for scored, expect in ((want, 2.5), (got, 2)):
        roads = scored[scored["id"].isin(speeds)].groupby("id")
        speed = roads["proc_maxspeed"].first()
        assert speed[["w0_0", "w1_0", "w2_0"]].isna().all(), speed
        assert speed["w3_0"] == expect, speed
    assert sum(wl.digests(got).values()) == len(want)
    assert wl.digests(got) == wl.digests(want)


def test_documents_path_matches_pandas_reference(spark, tmp_path,
                                                 repo_way_corpus):
    """``ways_from_documents`` -> ``score_way_table`` against the pandas
    reference path (``flagship_full_expected``) on a repo-owned corpus
    over three clone blocks.  The corpus carries no ``layer``,
    ``footway`` or ``is_sidepath`` tag, so the way table's columns must
    not depend on which tags a corpus uses."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cqi_engine.operators.pipeline import score_way_table
    from cqi_engine.sources.webways import (digest_rows_pdf,
                                            flagship_full_expected,
                                            scored_pandas,
                                            ways_from_documents)

    n_fix = len(repo_way_corpus)
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array(range(2 * n_fix + 17),
                                                type=pa.int64())}),
                   str(sf / "documents.parquet"))
    docs = spark.read.parquet(str(sf / "documents.parquet"))
    got = digest_rows_pdf(score_way_table(ways_from_documents(docs))
                          .toPandas())
    scored = scored_pandas(str(sf))
    assert (scored["proc_sidepath"] == "yes").any()
    assert scored["id"].str.endswith("__d2").any()
    want = flagship_full_expected(str(sf), scored)

    def multiset(d):
        return collections.Counter(zip(d["id"], d["side"], d["row_sha"]))

    assert len(got) == len(want)
    assert multiset(got) == multiset(want)
