"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import measure  # noqa: E402
import run as harness  # noqa: E402
import workloads  # noqa: E402


def _bytes(path):
    with open(path, "rb") as fh:
        return fh.read()


@pytest.mark.parametrize("kind", ["urban", "rural"])
def test_way_corpus_is_byte_identical_per_seed(tmp_path, kind):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_geojsonl(str(tmp_path / name),
                           gen.way_corpus(seed, kind, 30))
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")
    assert _bytes(tmp_path / "a") != _bytes(tmp_path / "c")


def test_page_files_and_catalog_are_byte_identical_per_seed(tmp_path):
    def pages(seed, name):
        pool, batches = gen.page_batches(seed, 12, 4, 2)
        ways = [(w + sfx, t, c) for b, sfx in batches[1]
                for w, t, c in pool[b]]
        path = str(tmp_path / name)
        gen.write_page_file(path, ways, gen.PAGE_EPOCH_S)
        return _bytes(path), os.stat(path).st_mtime

    assert pages(3, "a") == pages(3, "b")
    assert pages(3, "a")[0] != pages(4, "c")[0]
    for name, seed in (("x", 3), ("y", 3)):
        gen.write_catalog(str(tmp_path / name),
                          gen.catalog_tables(seed, 50, 10))
    for t in ("customer", "supplier", "nation"):
        assert (_bytes(tmp_path / "x" / f"{t}.parquet")
                == _bytes(tmp_path / "y" / f"{t}.parquet"))


def test_urban_is_dense_and_rural_sparse():
    urban = gen.way_properties(gen.way_corpus(1, "urban", 60))
    rural = gen.way_properties(gen.way_corpus(1, "rural", 60))
    assert urban["ways"] == rural["ways"] == 180
    assert rural["join.candidates"] * 20 <= urban["join.candidates"]
    assert urban["tag_distinct_ratio"] < rural["tag_distinct_ratio"]


@pytest.mark.parametrize("n, value, pct", [
    (1, 1.0, 100.0), (10, 10.0, 100.0), (11, 1.0, 100 / 11),
    (20, 10.0, 50.0), (40, 30.0, 75.0)])
def test_tail_keeps_ten_samples_beyond(n, value, pct):
    samples = [float(i) for i in range(n, 0, -1)]
    got, got_pct = measure.tail(samples)
    assert got == value and math.isclose(got_pct, pct)
    if n > 10:
        assert sum(s > got for s in samples) == 10


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == harness.END_TO_END
    assert layer == harness.reported_units()
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert measure.NAME_RE.fullmatch(name), name
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_traced_copy_follows_score_way_table():
    # BatchWays.traced_job copies score_way_table's composition; when this
    # fails, bring the copy in line with the engine, then TRACED_FROM
    assert workloads.score_way_table_sha() == workloads.TRACED_FROM


def _write_geojsonl(scored, out_dir):
    """The sink's line format: one Feature per line, NULL members
    dropped."""
    os.makedirs(out_dir)
    with open(os.path.join(out_dir, "part-00000.txt"), "w") as fh:
        for row in scored.to_dict("records"):
            props = {k: v for k, v in row.items()
                     if v is not None and not (isinstance(v, float)
                                               and math.isnan(v))}
            fh.write(json.dumps({"type": "Feature", "properties": props,
                                 "geometry": None}) + "\n")


def test_oracle_cache_round_trips(tmp_path):
    cache = str(tmp_path / "oracle.json")
    first = workloads.BatchWays("urban", 3, str(tmp_path))
    first.ways = gen.way_corpus(5, "urban", 3)
    first.build_oracle(cache)
    second = workloads.BatchWays("urban", 3, str(tmp_path))
    second.build_oracle(cache)
    assert second.expected == first.expected and sum(first.expected.values())


def test_corrupted_output_row_counts_as_failure(tmp_path):
    wl = workloads.BatchWays("urban", 3, str(tmp_path))
    ways = gen.way_corpus(5, "urban", 3)
    scored = workloads.reference_scores(ways)
    wl.expected = workloads.digests(scored)
    good = str(tmp_path / "good")
    _write_geojsonl(scored, good)
    bad = scored.copy()
    bad.loc[1, "index"] = bad.loc[1, "index"] + 1
    _write_geojsonl(bad, str(tmp_path / "bad"))
    failed = harness.count_failed(
        wl, [good, str(tmp_path / "bad"), None])
    assert failed == 2
