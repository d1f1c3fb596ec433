"""Signature-grouped kernel evaluation must be row-for-row identical to
direct evaluation (dictionary-encoded rule execution, kernel/pipeline.py)."""

import numpy as np
import pandas as pd
import pytest

from cqi_engine.io import read_geojson_lines
from cqi_engine.kernel.pipeline import (_post_sidepath_stages,
                                        _signature_codes,
                                        post_sidepath_stages_grouped)

INPUT = "/root/reference/data/test_ways/test_ways.geojson"


def _norm(v):
    if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NA:
        return None
    return v


def _as_multiset(df: pd.DataFrame):
    cols = sorted(df.columns)
    rows = sorted(
        (tuple(_norm(r[c]) for c in cols) for r in df.to_dict("records")),
        key=repr)
    return cols, rows


def _dup_corpus(reps: int, seed: int) -> pd.DataFrame:
    ways = read_geojson_lines(INPUT).drop(
        columns=["geom_lonlat", "geom_metric"])
    rng = np.random.default_rng(seed)
    parts = []
    for r in range(reps):
        part = ways.copy()
        part["id"] = [f"{i}__r{r}" for i in part["id"]]
        parts.append(part)
    df = pd.concat(parts, ignore_index=True)
    # shuffle row order and sprinkle both null spellings over one column
    df = df.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    if "maxspeed" in df.columns:
        idx = rng.choice(len(df), size=len(df) // 10, replace=False)
        half = len(idx) // 2
        col = df.columns.get_loc("maxspeed")
        df.iloc[idx[:half], col] = None
        df.iloc[idx[half:], col] = np.nan
    return df


@pytest.mark.parametrize("offset_distance", [None, "realistic"])
def test_grouped_matches_direct(offset_distance):
    df = _dup_corpus(reps=8, seed=7)
    assert len(df) >= 256
    direct = _post_sidepath_stages(df.copy(), offset_distance=offset_distance)
    grouped = post_sidepath_stages_grouped(df.copy(),
                                           offset_distance=offset_distance)
    dc, dr = _as_multiset(direct)
    gc, gr = _as_multiset(grouped)
    assert dc == gc
    assert len(dr) == len(gr)
    assert dr == gr


def test_grouped_falls_back_below_thresholds():
    df = _dup_corpus(reps=1, seed=3)            # 138 rows < 256
    direct = _post_sidepath_stages(df.copy())
    grouped = post_sidepath_stages_grouped(df.copy())
    assert _as_multiset(direct) == _as_multiset(grouped)


def test_signature_codes_group_identical_tuples():
    df = pd.DataFrame({
        "a": ["x", "x", "y", None, np.nan, "x"],
        "b": [1.0, 1.0, 2.0, 3.0, 3.0, 1.0],
        "id": list("abcdef"),
    })
    codes, first = _signature_codes(df, ["a", "b"])
    assert codes[0] == codes[1] == codes[5]
    assert codes[3] == codes[4]          # None and nan are one null
    assert codes[2] != codes[0] and codes[3] != codes[0]
    assert list(first) == [0, 2, 3]
