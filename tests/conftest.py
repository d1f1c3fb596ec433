import os
import sys

import numpy as np
import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")


@pytest.fixture(scope="session")
def spark():
    from cqi_engine.session import build_session
    # CQI_TEST_CPUS lets the same suite run at two cluster sizes
    # (north-rule verification: `pytest -x -q` at N and 4N executors).
    cpus = int(os.environ.get("CQI_TEST_CPUS", "4"))
    s = build_session("cqi-tests", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus))
    yield s


@pytest.fixture(scope="session")
def perfbench():
    """The benchmark's generator and output check (``perfbench/gen.py``,
    ``perfbench/workloads.py``), imported read-only."""
    sys.path.insert(0, PERFBENCH)
    try:
        import gen
        import workloads
    finally:
        sys.path.remove(PERFBENCH)
    return gen, workloads


@pytest.fixture
def repo_way_corpus(monkeypatch, perfbench):
    """Point the documents -> ways path (``webways.fixture_way_records``)
    at a seeded corpus of isolated urban-vocabulary blocks from the
    benchmark's generator instead of the reference snapshot: 36 ways, real
    sidepath matches, none of the ``layer``, ``footway`` or
    ``is_sidepath`` tags.  Yields the fixture records."""
    from cqi_engine.sources import webways

    gen, _wl = perfbench
    records = [(wid, {**tags, "id": wid}, np.asarray(coords, dtype=float))
               for wid, tags, coords in gen.way_corpus(5, "pool", 12)]
    webways._fixture_templates.cache_clear()
    monkeypatch.setattr(webways, "fixture_way_records", lambda: records)
    yield records
    webways._fixture_templates.cache_clear()
