"""Single-node (pandas) composition of the scoring pipeline.

Mirrors the reference's main() stage order
(ref:cycling_quality_index.py:1444-1813) over the vectorized kernels.  The
Spark pipeline (cqi_engine.operators.pipeline) distributes stage 1 (the
spatial join) as real shuffles and then runs `_post_sidepath_stages` —
everything row-local — inside mapInPandas Arrow batches.  Keeping one shared
kernel guarantees the Spark output matches the golden-verified pandas path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .. import config as C
from ..parse import get_number
from . import rules
from .offsets import run_offset_stage
from .sidepath import determine_maxspeed_value, run_sidepath_stage

_FILTER_WAY_TYPE = {
    "cycle path": "separated", "cycle track": "separated",
    "shared path": "separated", "segregated path": "separated",
    "shared footway": "separated", "cycle lane (protected)": "separated",
    "cycle lane (advisory)": "cycle lanes",
    "cycle lane (exclusive)": "cycle lanes",
    "cycle lane (central)": "cycle lanes",
    "link": "cycle lanes", "crossing": "cycle lanes",
    "bicycle road": "bicycle road",
    "shared road": "shared traffic",
    "shared traffic lane": "shared traffic",
    "shared bus lane": "shared traffic",
    "track or service": "shared traffic",
}


def _post_sidepath_stages(df: pd.DataFrame,
                          project: bool = True,
                          offset_distance=None) -> pd.DataFrame:
    """Stages 2-5: offset explode, deletes, way type, rules, scoring.

    Entirely row-local — safe per Arrow batch under mapInPandas.
    ``offset_distance`` defaults to config.OFFSET_DISTANCE (0, the golden
    contract); 'realistic'/numeric activates G2 data-defined offsets.
    """
    df = rules.ensure_attributes(df.copy())
    df = run_offset_stage(df, offset_distance)
    df = df[~rules.delete_mask(df)].reset_index(drop=True)
    df["way_type"] = rules.classify_way_type(df)

    proc_oneway = rules.derive_oneway(df, df["way_type"])
    df["proc_oneway"] = proc_oneway
    proc_width, miss_w = rules.calc_width(df, df["way_type"], proc_oneway)
    df["proc_width"] = proc_width
    proc_surface, miss_surface, sb_used = rules.derive_surface(
        df, df["way_type"])
    df["proc_surface"] = proc_surface
    proc_smoothness, miss_smoothness = rules.derive_smoothness(
        df, df["way_type"])
    miss_smoothness = miss_smoothness & ~sb_used
    df["proc_smoothness"] = proc_smoothness
    tm_l, tm_r = rules.derive_traffic_modes(df, df["way_type"])
    df["proc_traffic_mode_left"] = tm_l
    df["proc_traffic_mode_right"] = tm_r
    sep_l, sep_r = rules.derive_separation(df, tm_l, tm_r)
    df["proc_separation_left"] = sep_l
    df["proc_separation_right"] = sep_r
    buf_l, buf_r = rules.derive_buffer(df, tm_l, tm_r)
    df["proc_buffer_left"] = buf_l
    df["proc_buffer_right"] = buf_r
    mandatory, proc_sign = rules.derive_mandatory(df, df["way_type"],
                                                  proc_oneway)
    df["proc_mandatory"] = mandatory
    df["proc_traffic_sign"] = proc_sign
    df["filter_usable"] = np.where(
        mandatory.isin(["prohibited", "use_sidepath"]), 0, 1)
    df["filter_way_type"] = df["way_type"].map(_FILTER_WAY_TYPE)

    scored = rules.score(df)

    # data_missing assembly (append order mirrors the reference call order);
    # vectorized: per-row .iat indexing was ~15% of the whole kernel
    flag_cols = [
        (miss_w["width:lanes"], "width:lanes"),
        (miss_w["width"], "width"),
        (miss_w["width2"], "width"),
        (miss_w["parking"], "parking"),
        (miss_surface, "surface"),
        (miss_smoothness, "smoothness"),
        (scored["_miss_crossing"], "crossing"),
        (scored["_miss_markings"], "crossing_markings"),
        (scored["_miss_lit"], "lit"),
    ]
    names = [n for _s, n in flag_cols]
    arrs = [np.asarray(s, dtype=bool) for s, _n in flag_cols]
    missing_lists = [
        [n for hit, n in zip(row, names) if hit] for row in zip(*arrs)
    ]
    scored["data_missing"] = [";".join(e) for e in missing_lists]
    scored["data_incompleteness"] = [
        float(sum(C.DATA_INCOMPLETENESS_WEIGHT.get(e, 0) for e in entries))
        for entries in missing_lists
    ]
    if project:
        return final_projection(scored)
    return scored


def score_ways(ways: pd.DataFrame, with_sidepath: bool = True) -> pd.DataFrame:
    """ways: one row per OSM way with tag columns (+ geom_metric when
    with_sidepath).  Returns the scored table (unprojected)."""
    df = rules.ensure_attributes(ways.copy())

    if with_sidepath and "geom_metric" in df.columns:
        df = run_sidepath_stage(df)
    else:
        non_path = ~df["highway"].isin(C.PATH_HIGHWAYS).fillna(False)
        df.loc[non_path, "proc_highway"] = df.loc[non_path, "highway"]
        df.loc[non_path, "proc_maxspeed"] = [
            determine_maxspeed_value(ms, hw)
            for ms, hw in zip(df.loc[non_path, "maxspeed"],
                              df.loc[non_path, "highway"])]

    return _post_sidepath_stages(df, project=False)


def int32_or_null(s: pd.Series) -> pd.Series:
    """The rule for the integer output columns (int32 on the Spark path):
    a value that is not finite or rounds outside int32 is NULL.  A road's
    ``maxspeed=inf`` or ``1e12`` tag reaches ``proc_maxspeed`` as such."""
    v = s.to_numpy(dtype=float, na_value=np.nan)
    r = np.round(v)
    ok = np.isnan(v) | ((r >= -2 ** 31) & (r <= 2 ** 31 - 1))
    return s if ok.all() else s.where(ok)


def final_projection(scored: pd.DataFrame) -> pd.DataFrame:
    out = scored[C.OUTPUT_COLUMNS].copy()
    for int_col in ("index", "index_10", "stress_level", "base_index",
                    "proc_maxspeed", "filter_usable"):
        out[int_col] = int32_or_null(get_number(out[int_col]))
    return out


# --------------------------------------------------------------------------
# Signature-grouped evaluation: dictionary-encoded rule execution
# (operators/pipeline.score_batches, Arrow-side).
#
# Every stage in _post_sidepath_stages is a pure function of the way's
# attribute tuple — `id` is the only per-row passthrough in the distributed
# batch (geometry/url are dropped before the scoring boundary).  Web-scale
# corpora repeat attribute tuples heavily (whole streets share one tag
# combination), so the kernel evaluates each DISTINCT tuple once and
# scatters the resulting row block (side-row explosion and deletions are
# tuple-determined too) back to every input row.  Bit-identical to direct
# evaluation: the same vectorized kernel runs, just on the dictionary.
# --------------------------------------------------------------------------

_GROUP_MIN_ROWS = 256      # below this the bookkeeping costs more than it saves
_GROUP_MIN_DUP = 4         # require >=4x row/signature duplication to engage


def grouped_scatter_plan(codes: np.ndarray, k: int, out_sig: np.ndarray
                         ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Index math of the grouped-eval path (``score_batches``).

    ``codes`` maps each of n input rows to its signature; ``out_sig`` maps
    each kernel output row to the signature it came from.  Returns
    ``(order, take, rep_row)``: sort the kernel output by ``order`` (stable,
    by signature), then ``sorted_output.take(take)`` scatters each input
    row's whole block, and ``rep_row[j]`` is the input row that produced
    scattered row j (for per-row passthrough columns like ``id``).
    """
    n = len(codes)
    order = np.argsort(out_sig, kind="stable")
    counts = np.bincount(out_sig[order], minlength=k)
    starts = np.concatenate([[0], np.cumsum(counts)])
    row_counts = counts[codes]
    total = int(row_counts.sum())
    rep_row = np.repeat(np.arange(n), row_counts)
    within = np.arange(total) - np.repeat(
        np.concatenate([[0], np.cumsum(row_counts)[:-1]]), row_counts)
    take = starts[codes][rep_row] + within
    return order, take, rep_row
