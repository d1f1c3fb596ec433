"""Vectorized tag-parsing primitives (pandas / numpy).

Each helper mirrors a scalar function of the reference
(``ref:definitions.py``) but operates on whole pandas Series so it can run
inside Arrow-batched UDFs without per-row Python.

NULL semantics: the reference's QGIS ``NULL`` is represented as ``None`` /
``NaN``.  The reference's truthiness (``if not value``) treats NULL, empty
string and 0 as false — :func:`falsy` encodes exactly that.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .config import (
    ACCESS_FALLBACK_CHAIN,
    SURFACE_QUALITY_ORDER,
)

# rank of each surface value: index of FIRST occurrence (list.index semantics,
# ref:definitions.py:127)
_SURFACE_RANK: dict[str, int] = {}
for _i, _v in enumerate(SURFACE_QUALITY_ORDER):
    _SURFACE_RANK.setdefault(_v, _i)


# object-dtype falsiness (None / NaN / '' / 0 / False): three C-level
# passes (pd.isna + two object-equality comparisons) measure ~2.7x faster
# than one np.frompyfunc pass, because frompyfunc pays a Python frame per
# element while numpy's object __eq__ loop stays in C.  falsy() runs
# hundreds of times per Arrow batch.
def _falsy_np(arr: np.ndarray) -> np.ndarray:
    out = pd.isna(arr)                # None and NaN
    out |= (arr == "")                # empty string
    out |= (arr == 0)                 # 0 / 0.0 / False
    return out


def _nan_np(arr: np.ndarray) -> np.ndarray:
    # nan is the only common object for which x != x; None/str compare
    # equal to themselves, so this is the float-NaN mask in one C pass
    return arr != arr


def falsy(s: pd.Series) -> pd.Series:
    """QGIS-style truthiness: NULL, '' and 0 are all falsy.

    ref: pervasive ``if not attribute`` checks in cycling_quality_index.py.
    """
    if s.dtype == object:
        return pd.Series(_falsy_np(s.to_numpy(dtype=object)), index=s.index)
    out = s.isna() | (s == 0)
    return out.fillna(True).astype(bool)


def truthy(s: pd.Series) -> pd.Series:
    return ~falsy(s)


def get_number(s: pd.Series) -> pd.Series:
    """``float(value)`` with silent NULL on failure (ref:definitions.py:77-86).

    Note: unlike SQL casts, Python float() accepts 'inf'/'nan' and
    underscores are rejected by neither — pd.to_numeric matches closely
    enough for OSM tag payloads; empty string -> NULL like float('') raising.
    """
    return pd.to_numeric(s, errors="coerce")


def first_nonfalsy(*series: pd.Series) -> pd.Series:
    """Left-to-right coalesce under QGIS truthiness ('' counts as missing)."""
    index = series[0].index
    out = series[0].to_numpy(dtype=object).copy()
    mask = _falsy_np(out)
    for nxt in series[1:]:
        if not mask.any():
            break
        nxt_arr = nxt.to_numpy(dtype=object)
        np.copyto(out, nxt_arr, where=mask)
        mask &= _falsy_np(nxt_arr)
    # normalize NaN -> None (callers rely on None for missing)
    nanmask = _nan_np(out)
    out[nanmask] = None
    return pd.Series(out, index=index)


def split_both_to_sides(both: pd.Series, left: pd.Series, right: pd.Series):
    """X:both fans out to missing X:left / X:right
    (ref:cycling_quality_index.py:593-597)."""
    has_both = truthy(both)
    left = left.astype(object).copy()
    right = right.astype(object).copy()
    lmask = has_both & falsy(left)
    rmask = has_both & falsy(right)
    left[lmask] = both[lmask]
    right[rmask] = both[rmask]
    return left, right


def weakest_surface_value(value: str | None) -> str | None:
    """Worst surface from a ';'-joined list (ref:definitions.py:117-129)."""
    if value is None:
        return None
    worst, worst_rank = None, -1
    for item in str(value).split(";"):
        rank = _SURFACE_RANK.get(item)
        if rank is None:
            continue
        if worst is None or rank > worst_rank:
            worst, worst_rank = item, rank
    return worst


def weakest_surface(s: pd.Series) -> pd.Series:
    return s.map(weakest_surface_value, na_action="ignore").astype(object)


def get_access(df: pd.DataFrame, mode: str) -> pd.Series:
    """Access-tag inheritance chain per traffic mode
    (ref:definitions.py:54-72)."""
    cols = [mode] + ACCESS_FALLBACK_CHAIN.get(mode, [])
    series = [df[c] if c in df.columns else pd.Series(None, index=df.index, dtype=object)
              for c in cols]
    return first_nonfalsy(*series)


def last_lane_value(s: pd.Series) -> pd.Series:
    """Value after the last '|' in a lanes string — the rightmost lane
    (ref:cycling_quality_index.py:674)."""
    return get_number(s.str.rsplit("|", n=1).str[-1])


def bankers_round(x: pd.Series | np.ndarray, ndigits: int = 0):
    """Python3 round() = IEEE round-half-to-even, which numpy.round also uses.

    The reference relies on Python round semantics (e.g. index = int(round(x)),
    ref:cycling_quality_index.py:1774) — numpy matches, Spark's ROUND does not.
    """
    return np.round(np.asarray(x, dtype=float), ndigits)


def series_round(s: pd.Series, ndigits: int) -> pd.Series:
    return pd.Series(bankers_round(s.to_numpy(dtype=float), ndigits),
                     index=s.index)
