"""Query catalog: every SURVEY.md §2 operator family as a driver-checkable
query over the driver's parquet tables, plus the web-scale training-data
operators (dedup / similarity / text analysis / multimodal).

Each entry is either
- a dual-dialect SQL pair (Spark SQL executed over temp views registered
  from ``sf_dir``; DuckDB SQL as the correctness oracle) generated from ONE
  template so both engines run the *same* arithmetic, or
- a DataFrame-builder function for non-SQL-expressible operators (the full
  CQI scoring kernel, the stubbed media decode) — driver does a rows-only
  check for those.

Determinism rules: integer arithmetic wherever possible; doubles only as
final rounded projections; every output ordering key is total (ties broken
by an id column); no wall-clock, no RNG.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable, Optional

from ..operators import dialect as D
from ..operators.dialect import DUCK, SPARK

# ---------------------------------------------------------------------------
# deterministic synthetic geometry (integer meters in a 100 km x 100 km world)
# Grid cell = 2 km  ->  50 x 50 cells; cell key = cx*100 + cy  (SURVEY §2.3 J4:
# the H3-res-9-style equi-bucketing that turns dwithin into a hash join).
# ---------------------------------------------------------------------------
WORLD_M = 100_000
CELL_M = 2_000
DWITHIN_M = 2_000

CUST_PT = ("((c_custkey * 7919) % 100000)", "((c_custkey * 104729) % 100000)")
# different multipliers than CUST_PT: with shared multipliers the
# customer-supplier distance degenerates to a function of (c-s) alone and
# the dwithin join finds zero pairs — decorrelated primes give the expected
# ~ n_c * n_s * pi*r^2/area pair density.
SUPP_PT = ("((s_suppkey * 6151 + 12345) % 100000)",
           "((s_suppkey * 9973 + 54321) % 100000)")


def idiv(a: str, b: int, d: str) -> str:
    return f"({a} div {b})" if d == SPARK else f"({a} // {b})"


def s_str(x: str, d: str) -> str:
    return f"cast({x} as string)" if d == SPARK else f"cast({x} as varchar)"


def cell_key(x: str, y: str, d: str) -> str:
    return f"({idiv(x, CELL_M, d)} * 100 + {idiv(y, CELL_M, d)})"


@dataclass
class Query:
    name: str
    tables: tuple
    spark_sql: Optional[str] = None
    duck_sql: Optional[str] = None
    fn: Optional[Callable] = None          # custom builder (rows-only check)
    doc: str = ""


CATALOG: dict[str, Query] = {}


def _reg(q: Query) -> None:
    CATALOG[q.name] = q


def _sql_pair(name: str, tables: tuple, template: Callable[[str], str],
              doc: str = "") -> None:
    _reg(Query(name=name, tables=tables, spark_sql=template(SPARK),
               duck_sql=template(DUCK), doc=doc))


# session confs that change what parquet schema inference returns
_PARQUET_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (real path, inference confs) -> (file version, inferred StructType)
_SCHEMAS: dict = {}


def _file_version(path: str) -> tuple:
    """(st_size, st_mtime_ns) of a file, or of every file under a
    directory: any rewrite at the same path changes it."""
    st = os.stat(path)
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns)
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            fs = os.stat(os.path.join(root, f))
            out.append((os.path.relpath(os.path.join(root, f), path),
                        fs.st_size, fs.st_mtime_ns))
    return tuple(out)


def read_table(spark, sf_dir: str, name: str):
    """A fresh DataFrame over ``{sf_dir}/{name}.parquet``.

    Spark's parquet schema inference runs a one-task job to read the
    footer even for one file, about 40-90 ms of a 0.1-0.3 s catalog query.
    So only the first read of a file version infers; later reads pass the
    kept ``StructType`` to ``spark.read.schema``.  The key is the real
    path, its file version and the inference confs, so a rewrite at the
    same path or a flipped conf infers again.  Only the schema is kept:
    every call still lists the file and builds a new relation.  A path
    that is not a local file is read the plain way."""
    path = f"{sf_dir}/{name}.parquet"
    real = os.path.realpath(path)
    try:
        version = _file_version(real)
    except OSError:
        return spark.read.parquet(path)
    key = (real, tuple(spark.conf.get(c) for c in _PARQUET_INFER_CONFS))
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == version:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (version, df.schema)
    return df


def run_query(spark, sf_dir: str, q: Query):
    """Register the needed parquet views and execute the Spark side."""
    from ..session import ship_package, tune_runtime
    ship_package(spark)
    tune_runtime(spark)
    for t in q.tables:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    if q.fn is not None:
        return q.fn(spark, sf_dir)
    return spark.sql(q.spark_sql)


# ===========================================================================
# 1. Relational core (scan -> filter -> agg -> join -> window; SURVEY §2.1-2.5)
# ===========================================================================

def _pricing_summary(d: str) -> str:
    # A5/A6-style grouped aggregation with map-side partials (TPC-H Q1 shape)
    return f"""
select l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as bigint)) as bigint) as sum_qty,
       cast(round(sum(l_extendedprice), 2) as double) as sum_base_price,
       cast(round(sum(l_extendedprice * (1 - l_discount)), 2) as double) as sum_disc_price,
       cast(round(avg(l_quantity), 6) as double) as avg_qty,
       cast(round(avg(l_discount), 6) as double) as avg_disc,
       cast(count(*) as bigint) as count_order
from lineitem
where l_shipdate <= timestamp '2001-09-02 00:00:00'
group by l_returnflag, l_linestatus
"""


_sql_pair("pricing_summary", ("lineitem",), _pricing_summary,
          "Grouped agg w/ partial aggregation (SURVEY §2.4 A5/A6)")


def _shipping_priority(d: str) -> str:
    # 3-way join + agg + deterministic top-N via row_number (SURVEY §2.3/2.5)
    return f"""
select l_orderkey, revenue, o_orderdate
from (
  select l.l_orderkey,
         cast(round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as double) as revenue,
         {s_str('o.o_orderdate', d)} as o_orderdate,
         row_number() over (order by round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) desc, l.l_orderkey asc) as rn
  from customer c
  join orders o on c.c_custkey = o.o_custkey
  join lineitem l on l.l_orderkey = o.o_orderkey
  where o.o_orderdate < timestamp '2001-01-01 00:00:00'
  group by l.l_orderkey, o.o_orderdate
) t where rn <= 10
"""


_sql_pair("shipping_priority", ("customer", "orders", "lineitem"),
          _shipping_priority, "Multi-join + agg + total-order top-N")


def _top_customers(d: str) -> str:
    return f"""
select c_custkey, c_name, order_cnt, total_price
from (
  select c.c_custkey, c.c_name,
         cast(count(o.o_orderkey) as bigint) as order_cnt,
         cast(round(sum(o.o_totalprice), 2) as double) as total_price,
         row_number() over (order by round(sum(o.o_totalprice), 2) desc, c.c_custkey asc) as rn
  from customer c join orders o on o.o_custkey = c.c_custkey
  group by c.c_custkey, c.c_name
) t where rn <= 25
"""


_sql_pair("top_customers", ("customer", "orders"), _top_customers,
          "Broadcast-able dim join + top-N")


def _events_hourly(d: str) -> str:
    return f"""
select {s_str("date_trunc('hour', ts)", d)} as hour_ts, event_type,
       cast(count(*) as bigint) as n,
       cast(round(sum(value), 4) as double) as sum_value
from events
group by date_trunc('hour', ts), event_type
"""


_sql_pair("events_hourly", ("events",), _events_hourly,
          "Tumbling-window (hour) aggregation over the event stream table")


def _events_sessionize(d: str) -> str:
    ms = ("unix_millis(cast(ts as timestamp))" if d == SPARK
          else "epoch_ms(ts)")
    return f"""
select user_id,
       cast(count(distinct sess) as bigint) as n_sessions,
       cast(count(*) as bigint) as n_events,
       cast(max(sess) + 1 as bigint) as last_sess_plus1
from (
  select user_id,
         sum(is_new) over (partition by user_id order by ms_ts, event_id
                           rows between unbounded preceding and current row) as sess
  from (
    select user_id, event_id, {ms} as ms_ts,
           case when {ms} - lag({ms}) over (partition by user_id
                                            order by {ms}, event_id)
                     > 1800000 then 1 else 0 end as is_new
    from events
  ) g
) s group by user_id
"""


_sql_pair("events_sessionize", ("events",), _events_sessionize,
          "Gap-based sessionization (lag + running sum windows)")


def _events_majority(d: str) -> str:
    # A2 majority vote, exact integer arithmetic (>= 2/3 of checks)
    return f"""
select user_id, total, top_cnt,
       case when top_cnt * 3 >= total * 2 then 1 else 0 end as majority
from (
  select user_id, cast(sum(cnt) as bigint) as total,
         cast(max(cnt) as bigint) as top_cnt
  from (select user_id, event_type, count(*) as cnt
        from events group by user_id, event_type) c
  group by user_id
) t
"""


_sql_pair("events_majority", ("events",), _events_majority,
          "2/3-majority vote (SURVEY §2.4 A2, ref:cycling_quality_index.py:168-172)")


def _events_mode(d: str) -> str:
    # A4 mode with deterministic tie-break (count desc, key asc)
    return f"""
select user_id, event_type as mode_type, cast(cnt as bigint) as cnt
from (
  select user_id, event_type, count(*) as cnt,
         row_number() over (partition by user_id
                            order by count(*) desc, event_type asc) as rn
  from events group by user_id, event_type
) t where rn = 1
"""


_sql_pair("events_mode", ("events",), _events_mode,
          "Mode / most-frequent transfer (SURVEY §2.4 A4, ref:219-224)")


_EVENT_RANK = ["purchase", "signup", "click", "view", "error"]


def _events_argmax_rank(d: str) -> str:
    # A3 arg-max by external rank list (ref:cycling_quality_index.py:193-207)
    rank_case = ("case " + " ".join(
        f"when event_type = '{t}' then {i}" for i, t in enumerate(_EVENT_RANK))
        + " else 99 end")
    return f"""
select user_id, event_type as top_ranked_type, cast(cnt as bigint) as cnt
from (
  select user_id, event_type, count(*) as cnt,
         row_number() over (partition by user_id
                            order by count(*) desc, {rank_case} asc) as rn
  from events group by user_id, event_type
) t where rn = 1
"""


_sql_pair("events_argmax_rank", ("events",), _events_argmax_rank,
          "Arg-max by rank list (SURVEY §2.4 A3)")


def _weighted_incompleteness(d: str) -> str:
    # A6/R18: weighted sum of missing-data indicator flags
    # (ref:cycling_quality_index.py:1793-1796, weights parameter.py:257-267)
    toks = D.split_ws("text", d)
    return f"""
select doc_id,
       cast((case when n_chars < 100 then 25 else 0 end)
          + (case when lang is null or lang = '' then 30 else 0 end)
          + (case when {D.lsize(toks, d)} < 20 then 15 else 0 end)
          + (case when source is null or source = '' then 10 else 0 end)
        as bigint) as data_incompleteness
from documents
"""


_sql_pair("weighted_incompleteness", ("documents",), _weighted_incompleteness,
          "Weighted missing-data fold (SURVEY §2.4 A6 / §2.8 R18)")


# ===========================================================================
# 2. CQI scalar/tag-parsing operators on synthesized tag strings (§2.7 F1-F11)
# ===========================================================================

def _maxspeed_tag(d: str) -> str:
    # deterministic OSM-ish maxspeed strings from part keys
    return f"""(case (p_partkey % 11)
      when 0 then 'none' when 1 then 'walk' when 2 then 'DE:rural'
      when 3 then '' when 4 then 'fast' when 5 then '50;70'
      else {s_str('10 * (p_partkey % 13)', d)} end)"""


def _parse_maxspeed(d: str) -> str:
    # F7 maxspeed normalization (ref:cycling_quality_index.py:157-165 +
    # src/models/features.py:56-80): walk->10, none->299, DE:rural->50,
    # 'a;b'->first, numeric->cast, junk->NULL; living_street default 10.
    tag = _maxspeed_tag(d)
    first = D.at(f"split({tag}, ';')" if d == SPARK
                 else f"string_split({tag}, ';')", "1", d)
    return f"""
select p_partkey, {tag} as maxspeed_tag,
       cast(case
         when {tag} = 'walk' then 10.0
         when {tag} = 'none' then 299.0
         when {tag} = 'DE:rural' then 50.0
         when ({tag} = '' or {tag} is null) and (p_partkey % 17) = 0 then 10.0
         else try_cast({first} as double)
       end as double) as proc_maxspeed
from part
"""


_sql_pair("parse_maxspeed", ("part",), _parse_maxspeed,
          "F7 maxspeed tag normalization, bit-for-bit")


def _parse_width(d: str) -> str:
    # F8 width unit parsing (ref:src/models/features.py:46-54): regex
    # numeric extraction from strings like '6.5 m' / '3 m' / junk.
    tag = (f"""(case (p_partkey % 5)
      when 0 then {s_str('p_size div 10', d) if d == SPARK else s_str('p_size // 10', d)} || '.' || {s_str('p_size % 10', d)} || ' m'
      when 1 then {s_str('p_size % 9', d)}
      when 2 then 'narrow' when 3 then '' else {s_str('p_size % 7', d)} || 'm' end)""")
    rex = r"(\\d+\\.?\\d*)" if d == SPARK else r"(\d+\.?\d*)"
    return f"""
select p_partkey, {tag} as width_tag,
       try_cast(regexp_extract({tag}, '{rex}', 1) as double) as proc_width
from part
"""


_sql_pair("parse_width", ("part",), _parse_width,
          "F8 width unit parsing via regexp_extract")


# reference surface quality ordering (ref:definitions.py:117-129 list order)
_SURFACE_RANK = [
    "asphalt", "paved", "concrete", "chipseal", "paving_stones",
    "compacted", "concrete:plates", "bricks", "sett", "cobblestone",
    "gravel", "fine_gravel", "pebblestone", "ground", "dirt", "grass",
    "sand",
]


def _weakest_surface(d: str) -> str:
    # F3 getWeakestSurfaceValue: worst-ranked entry of a ';'-list.
    n = len(_SURFACE_RANK)
    pick = lambda i: _SURFACE_RANK[i]  # noqa: E731
    tag = (f"('{pick(0)};' || {D.at(D.str_arr_lit(_SURFACE_RANK, d), '(p_partkey % ' + str(n) + ') + 1', d)}"
           f" || ';' || {D.at(D.str_arr_lit(_SURFACE_RANK, d), '(p_partkey % 7) + 1', d)})")
    toks = (f"split({tag}, ';')" if d == SPARK
            else f"string_split({tag}, ';')")
    rank_case = ("case x " + " ".join(
        f"when '{s}' then {i}" for i, s in enumerate(_SURFACE_RANK))
        + " else -1 end")
    ranks = D.lmap(toks, f"x -> {rank_case}", d)
    worst = (f"array_max({ranks})" if d == SPARK
             else f"list_aggregate({ranks}, 'max')")
    return f"""
select p_partkey, {tag} as surface_tag,
       {D.at(D.str_arr_lit(_SURFACE_RANK, d), f'({worst}) + 1', d)} as weakest_surface
from part
"""


_sql_pair("weakest_surface", ("part",), _weakest_surface,
          "F3 weakest-surface pick per reference quality ordering "
          "(ref:definitions.py:117-129)")


def _access_resolve(d: str) -> str:
    # F5 getAccess hierarchy (ref:definitions.py:54-72): bicycle <- vehicle
    # <- access with QGIS ''-falsy semantics (SURVEY §1.1).
    bic = ("(case (p_partkey % 5) when 0 then 'no' when 1 then 'yes' "
           "when 2 then '' else null end)")
    veh = ("(case (p_partkey % 3) when 0 then 'private' when 1 then '' "
           "else null end)")
    acc = "(case (p_partkey % 2) when 0 then 'permissive' else 'yes' end)"
    def nb(x: str) -> str:
        return f"(case when {x} is not null and {x} <> '' then {x} end)"
    return f"""
select p_partkey,
       coalesce({nb(bic)}, {nb(veh)}, {nb(acc)}) as proc_access
from part
"""


_sql_pair("access_resolve", ("part",), _access_resolve,
          "F5 access-hierarchy coalesce chain with ''-falsy parity")


# ===========================================================================
# 3. Geospatial operators (§2.3 J1-J6, north_star: cells / PIP / kNN / raster)
# ===========================================================================

def _cell_assign(d: str) -> str:
    cx, cy = CUST_PT
    return f"""
select c_custkey, cast({cx} as bigint) as x, cast({cy} as bigint) as y,
       cast({cell_key(cx, cy, d)} as bigint) as cell
from customer
"""


_sql_pair("cell_assign", ("customer",), _cell_assign,
          "Deterministic H3-style cell assignment (integer grid, no shuffle)")


def _cell_agg(d: str) -> str:
    cx, cy = CUST_PT
    return f"""
select cast({cell_key(cx, cy, d)} as bigint) as cell,
       cast(count(*) as bigint) as n_points,
       cast(round(avg(c_acctbal), 6) as double) as avg_acctbal
from customer
group by {cell_key(cx, cy, d)}
"""


_sql_pair("cell_agg", ("customer",), _cell_agg,
          "Cell-level index aggregation (north_star; two-level agg)")


def _dwithin_spark(d: str) -> str:
    """Scale path: explode supplier sites over 3x3 neighbor cells ->
    hash equi-join on cell -> exact integer distance refine. One shuffle,
    no cross join (SURVEY §2.3 J4 mapping)."""
    cx, cy = CUST_PT
    sx, sy = SUPP_PT
    return f"""
with cust as (
  select c_custkey, {cx} as x, {cy} as y, {cell_key(cx, cy, d)} as cell
  from customer
),
supp as (
  select s_suppkey, {sx} as x, {sy} as y,
         {idiv(sx, CELL_M, d)} as cx, {idiv(sy, CELL_M, d)} as cy
  from supplier
),
supp_cells as (
  select s_suppkey, x, y, (cx + dx) * 100 + (cy + dy) as cell
  from supp
  cross join (select explode(sequence(-1, 1)) as dx) a
  cross join (select explode(sequence(-1, 1)) as dy) b
)
select c.c_custkey, s.s_suppkey,
       cast((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) as bigint)
         as dist_sq
from cust c join supp_cells s on c.cell = s.cell
where (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
      <= {DWITHIN_M * DWITHIN_M}
"""


def _dwithin_duck() -> str:
    cx, cy = CUST_PT
    sx, sy = SUPP_PT
    return f"""
select c.c_custkey, s.s_suppkey,
       cast((({cx}) - ({sx})) * (({cx}) - ({sx}))
          + (({cy}) - ({sy})) * (({cy}) - ({sy})) as bigint) as dist_sq
from customer c, supplier s
where (({cx}) - ({sx})) * (({cx}) - ({sx}))
    + (({cy}) - ({sy})) * (({cy}) - ({sy})) <= {DWITHIN_M * DWITHIN_M}
"""


_reg(Query("dwithin_join", ("customer", "supplier"),
           spark_sql=_dwithin_spark(SPARK), duck_sql=_dwithin_duck(),
           doc="dwithin spatial join: cell-bucketed equi-join + exact refine "
               "(scale path) vs naive cross-join oracle (SURVEY §2.3 J4)"))


def _knn(d: str) -> str:
    # kNN nearest-site lookup (north_star): total-order (dist_sq, id),
    # uncapped — every customer against every supplier (the brute-force
    # baseline; `knn_blocked` below is the graded scale path).
    cx, cy = CUST_PT
    sx, sy = SUPP_PT
    return f"""
select c_custkey, s_suppkey, dist_sq, cast(rn as bigint) as rank
from (
  select c.c_custkey, s.s_suppkey,
         cast((({cx}) - ({sx})) * (({cx}) - ({sx}))
            + (({cy}) - ({sy})) * (({cy}) - ({sy})) as bigint) as dist_sq,
         row_number() over (partition by c.c_custkey
            order by (({cx}) - ({sx})) * (({cx}) - ({sx}))
                   + (({cy}) - ({sy})) * (({cy}) - ({sy})) asc,
                     s.s_suppkey asc) as rn
  from customer c cross join supplier s
) t where rn <= 5
"""


_sql_pair("knn_sites", ("customer", "supplier"), _knn,
          "kNN nearest-way lookup, brute-force baseline (cross-join + "
          "window); the scale path is knn_blocked")

_KNN_CELL_M = 10_000  # kNN grid is coarser than the dwithin grid: cells
#                       are sized ~ the typical k-NN radius, not the join
#                       predicate radius.


def _knn_blocked_fn(spark, sf_dir: str):
    """Scale path: cell-ring-bounded kNN (operators/knn.py knn_ways).

    Exactness is VERIFIED per point, not assumed: max_ring is still chosen
    from the measured site density (2.5x tail-safety over the mean k-NN
    radius sqrt(k/(pi*lambda))), but knn_ways then checks every point's
    proof obligation floor(dist_k/cell)+1 <= ring and re-probes the
    failures with the ring their own dist_k implies (operators/knn.py;
    adversarial-density test in tests/test_ops_modules.py).  The driver's
    cross-join oracle (`_knn`) independently confirms the result.
    """
    from pyspark.sql import functions as F
    from ..operators.knn import knn_ways

    import math
    # the views run_query has just registered
    cust = spark.table("customer")
    supp = spark.table("supplier")
    n_sites = supp.count()
    if n_sites:
        lam = n_sites / float(WORLD_M) ** 2
        radius = 2.5 * math.sqrt(5 / (math.pi * lam))
        max_ring = max(1, int(math.ceil(radius / _KNN_CELL_M)))
    else:
        # empty site table: density heuristic is undefined; any ring works
        # (knn_ways' extent cap proves exhaustion immediately)
        max_ring = 1

    cx, cy = CUST_PT
    sx, sy = SUPP_PT
    # ids stay bigint end to end (knn_ways preserves input id types): the
    # window's (dist, road_id asc) tie-break is then numerically the
    # oracle's (dist_sq, s_suppkey asc), and every exchange/Arrow crossing
    # carries 8-byte codes instead of 12-char strings — the flagship's
    # dictionary-code shuffle diet applied to the kNN path.
    points = cust.selectExpr(
        "cast(c_custkey as bigint) as pt_id",
        f"cast({cx} as double) as x", f"cast({cy} as double) as y",
        f"cast({cx} div {_KNN_CELL_M} as int) as cx",
        f"cast({cy} div {_KNN_CELL_M} as int) as cy")
    sites = supp.selectExpr(
        "cast(s_suppkey as bigint) as road_id",
        f"cast({sx} div {_KNN_CELL_M} as int) as cellx",
        f"cast({sy} div {_KNN_CELL_M} as int) as celly",
        f"array(array(cast({sx} as double), cast({sy} as double))) "
        "as road_geom")

    knn = knn_ways(points, sites, k=5, max_ring=max_ring,
                   cell_size=float(_KNN_CELL_M))
    # integer dist_sq recomputed from the keys (exact; the operator's
    # rounded-sqrt `dist` orders identically but is not the oracle's unit)
    dx = f"(({cx}) - ({sx}))"
    dy = f"(({cy}) - ({sy}))"
    return knn.selectExpr(
        "pt_id as c_custkey",
        "road_id as s_suppkey",
        "cast(rank as bigint) as rank",
    ).selectExpr(
        "c_custkey", "s_suppkey",
        f"cast({dx} * {dx} + {dy} * {dy} as bigint) as dist_sq",
        "rank")


_reg(Query("knn_blocked", ("customer", "supplier"), fn=_knn_blocked_fn,
           duck_sql=_knn(DUCK),
           doc="Scale-path kNN: bounded-ring cell join (knn_ways) graded "
               "against the uncapped cross-join oracle"))


def _point_in_polygon(d: str) -> str:
    # nation boxes tile the world 5x5; containment join + per-polygon agg.
    cx, cy = CUST_PT
    x0 = "((n_nationkey % 5) * 20000)"
    y0 = f"({idiv('n_nationkey', 5, d)} * 20000)"
    return f"""
select n.n_nationkey, n.n_name,
       cast(count(c.c_custkey) as bigint) as n_points,
       cast(round(sum(c.c_acctbal), 2) as double) as sum_acctbal
from nation n join customer c
  on ({cx}) >= {x0} and ({cx}) < {x0} + 20000
 and ({cy}) >= {y0} and ({cy}) < {y0} + 20000
group by n.n_nationkey, n.n_name
"""


_sql_pair("point_in_polygon", ("customer", "nation"), _point_in_polygon,
          "Point-in-polygon vs broadcast polygon set (north_star)")


def _raster_tiles(d: str) -> str:
    # raster->vector: cell aggregate + reconstructed tile corner geometry
    cx, cy = CUST_PT
    ck = cell_key(cx, cy, d)
    return f"""
select cell,
       cast((cell div 100) * {CELL_M} as bigint) as x0,
       cast((cell % 100) * {CELL_M} as bigint) as y0,
       cast((cell div 100) * {CELL_M} + {CELL_M} as bigint) as x1,
       cast((cell % 100) * {CELL_M} + {CELL_M} as bigint) as y1,
       n_points, avg_acctbal
from (
  select cast({ck} as bigint) as cell, cast(count(*) as bigint) as n_points,
         cast(round(avg(c_acctbal), 6) as double) as avg_acctbal
  from customer group by {ck}
) t
""".replace("div", "div" if d == SPARK else "//")


_sql_pair("raster_tiles", ("customer",), _raster_tiles,
          "Raster<->vector tiling: cell rollup + tile polygon corners")


# ===========================================================================
# 4. Deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding)
# ===========================================================================

def _dedup_exact(d: str) -> str:
    # exact dedup on a normalized content key (first-2-token prefix -> md5).
    # nullif pins the degenerate case identically in both dialects: a doc
    # with NULL text or no tokens has NO dedup key (Spark would otherwise
    # key every empty/whitespace doc on md5('') while DuckDB's chain nulls
    # out and lumps NULL text in with them) — keyless docs are excluded.
    toks = D.split_ws("text", d)
    head = (f"array_join(slice({toks}, 1, 2), ' ')" if d == SPARK
            else f"array_to_string(list_slice({toks}, 1, 2), ' ')")
    return f"""
select key_hash, cast(dup_cnt as bigint) as dup_cnt,
       cast(keep_doc as bigint) as keep_doc
from (
  select md5(nullif({head}, '')) as key_hash, count(*) as dup_cnt,
         min(doc_id) as keep_doc
  from documents group by md5(nullif({head}, ''))
) t where dup_cnt > 1 and key_hash is not null
"""


_sql_pair("dedup_exact", ("documents",), _dedup_exact,
          "Exact dedup via content-key hash groupBy")


def _minhash_bands() -> str:
    """Per-doc LSH band rows: (doc_id, band_idx, band_key)."""
    keys = D.band_keys(D.token_hashes("text", DUCK), DUCK)
    selects = [
        f"select doc_id, {i} as band_idx, cast({k} as bigint) as band_key "
        f"from documents" for i, k in enumerate(keys)]
    return " union all ".join(selects)


def _jaccard_expr(a: str, b: str) -> str:
    ta = D.tokens_distinct(a, DUCK)
    tb = D.tokens_distinct(b, DUCK)
    inter = f"len(list_intersect({ta}, {tb}))"
    union = f"len(list_distinct(list_concat({ta}, {tb})))"
    return f"(cast({inter} as double) / {union})"


def _dedup_minhash_lsh() -> str:
    # MinHash(16) + LSH(4 bands x 4 rows) candidate pairs over the FULL
    # corpus (no row cap), verified by exact Jaccard >= 0.9 on
    # distinct-token sets: the DuckDB oracle (the Spark plan is
    # _dedup_minhash_fn).
    jac = _jaccard_expr("da.text", "db.text")
    return f"""
with bands as ({_minhash_bands()}),
cand as (
  select distinct a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b
    on a.band_idx = b.band_idx and a.band_key = b.band_key
   and a.doc_id < b.doc_id
)
select c.doc_a, c.doc_b,
       cast(round({jac}, 6) as double) as jaccard
from cand c
join documents da on da.doc_id = c.doc_a
join documents db on db.doc_id = c.doc_b
where {jac} >= {D.MINHASH_JACCARD}
"""


def _dedup_minhash_fn(spark, sf_dir: str):
    """The Spark plan is the incremental index's pair stage
    (``streaming/dedup.py``) over the whole corpus: tokenize once,
    minhash and band from the token-hash array (the oracle template's
    arithmetic, ``dialect.band_keys``), one self-join on the fused band
    key with the size-ratio prefilter and first-colliding-band emission
    inside it (each pair emitted once, no global DISTINCT), then the
    exact-Jaccard verify against the tokenized arrays.  The token and
    band stages are persisted: the self-join reads the bands twice and
    the verify the tokens twice.  (Measured and left out: salting the
    band self-join, skew.py-style, row-identical but 13.5 s vs 12.1 s at
    sf0.1; a single mega-cluster corpus would need it.)"""
    from ..streaming.dedup import band_frames, self_pairs
    toks, bands = band_frames(spark.table("documents"))
    return (self_pairs(toks.persist(), bands.persist())
            .selectExpr("seen_id as doc_a", "doc_id as doc_b", "jaccard"))


_reg(Query("dedup_minhash_lsh", ("documents",),
           fn=_dedup_minhash_fn,
           duck_sql=_dedup_minhash_lsh(),
           doc="MinHash+LSH banded near-dup join with exact-Jaccard verify "
               "(the incremental index's pair stage, persisted single-scan "
               "stages)"))


def _simhash_sims(d: str) -> str:
    """Per-doc 60-bit SimHash over one shared tokenization stage."""
    return (f"select doc_id, {D.simhash60('ths', d)} as h60 "
            f"from (select doc_id, {D.token_hashes('text', d)} as ths "
            f"from documents) th")


def _dedup_simhash_pairs_duck() -> str:
    # exact all-pairs hamming join: the oracle both checks the SimHash
    # arithmetic bit-for-bit and PROVES the Spark side's banding loses
    # nothing (pigeonhole: <=3 flipped bits across 4 bands leave at
    # least one band intact, so banded candidates are exhaustive).
    return f"""
with sims as ({_simhash_sims(DUCK)})
select a.doc_id as doc_a, b.doc_id as doc_b,
       cast(bit_count(xor(a.h60, b.h60)) as integer) as hamming
from sims a join sims b on a.doc_id < b.doc_id
where bit_count(xor(a.h60, b.h60)) <= 3
"""


def _dedup_simhash_pairs_fn(spark, sf_dir: str):
    """SimHash near-dup pair join, banded (Manku/Jain/Das Sarma, WWW'07).

    Scale path: per-doc 60-bit SimHash (pure map), explode into 4
    15-bit band keys, equi-join band collisions (never all-pairs),
    verify candidates with bit_count(xor) <= 3.  Exact by pigeonhole —
    the DuckDB oracle runs the genuine O(n^2) join and must match
    bit-for-bit.

    Round-4 diet (the minhash candidate-stage pattern, but stronger
    here because the verify key is ONE int64): each band row carries
    the full h60, so (a) the verify runs INSIDE the bucket self-join —
    no candidate materialization, no distinct, no re-join against the
    sims table — and (b) a pair is emitted only by its first colliding
    band (band j of h60 is recomputable from the carried value), which
    makes emission globally unique by construction.  The former plan's
    global DISTINCT over all collision rows and its two broadcast
    verify joins disappear; the whole query is one persisted map stage
    + one equi-join."""
    d = SPARK
    sims = spark.sql(_simhash_sims(d)).persist()
    sims.createOrReplaceTempView("sh_sims")
    bb = D.SIMHASH60_BAND_BITS

    def band_j(col: str, j: int) -> str:
        return f"(({col}) div {1 << (bb * j)}) % {1 << bb}"

    band_structs = ", ".join(
        f"named_struct('band_idx', {i}, 'band_val', {band_j('h60', i)})"
        for i in range(D.SIMHASH60_BANDS))
    spark.sql(f"""
        select doc_id, h60, b.band_idx, b.band_val
        from sh_sims lateral view explode(array({band_structs})) t as b
    """).createOrReplaceTempView("sh_bands")

    first_band_owner = D.first_band_owner(
        D.SIMHASH60_BANDS, lambda s, j: band_j(f"{s}.h60", j))
    return spark.sql(f"""
        select a.doc_id as doc_a, b.doc_id as doc_b,
               cast(bit_count(a.h60 ^ b.h60) as int) as hamming
        from sh_bands a join sh_bands b
          on a.band_idx = b.band_idx and a.band_val = b.band_val
         and a.doc_id < b.doc_id
        where bit_count(a.h60 ^ b.h60) <= 3
          and {first_band_owner}
    """)


_reg(Query("dedup_simhash_pairs", ("documents",),
           fn=_dedup_simhash_pairs_fn,
           duck_sql=_dedup_simhash_pairs_duck(),
           doc="SimHash near-dup pairs: banded 60-bit hamming join, exact "
               "for hamming<=3 (all-pairs oracle proves the banding)"))


def _dgrams_expr(d: str) -> str:
    """Distinct word-bigram shingles of `text` (shared by both ngram plans)."""
    toks = D.split_ws("text", d)
    n = D.lsize(toks, d)
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0]; generate
    # [1..max(n-1,1)] then filter to valid shingle starts.
    idx = D.lfilter(D.seq1(f"greatest(({n}) - 1, 1)", d),
                    f"i -> i <= ({n}) - 1", d)
    grams = D.lmap(idx,
                   f"i -> {D.at(toks, 'i', d)} || '_' || {D.at(toks, 'i + 1', d)}",
                   d)
    return (f"array_distinct({grams})" if d == SPARK
            else f"list_distinct({grams})")


def _ngram_jaccard(d: str) -> str:
    # word-bigram shingle Jaccard via explode + equi-join + agg.  This is
    # the DuckDB oracle form (and the Spark fallback for unbounded
    # vocabularies); the graded Spark plan is the vocabulary-broadcast
    # incidence GEMM in _ngram_jaccard_fn.
    dgrams = _dgrams_expr(d)
    explode = (f"select doc_id, explode({dgrams}) as g from documents"
               if d == SPARK else
               f"select doc_id, unnest({dgrams}) as g from documents")
    return f"""
with shingles as ({explode}),
sizes as (select doc_id, count(*) as sz from shingles group by doc_id),
shared as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as inter
  from shingles a join shingles b on a.g = b.g and a.doc_id < b.doc_id
  group by a.doc_id, b.doc_id
)
select s.doc_a, s.doc_b,
       cast(round(cast(s.inter as double) / (sa.sz + sb.sz - s.inter), 6)
            as double) as jaccard
from shared s
join sizes sa on sa.doc_id = s.doc_a
join sizes sb on sb.doc_id = s.doc_b
where cast(s.inter as double) / (sa.sz + sb.sz - s.inter) >= 0.08
"""


_NGRAM_THRESHOLD = 0.08


def _ngram_jaccard_fn(spark, sf_dir: str):
    """Scale path: all-pairs shingle Jaccard as a vocabulary-broadcast
    incidence GEMM (operators/ngram.py) — one tokenization pass, tiny
    tile equi-joins, one float32 matmul per tile — instead of the
    explode-join whose intermediate is quadratic in per-shingle document
    frequency.  The GEMM emits exact integer (inter, union); the final
    threshold + rounding run through the oracle's own SQL expression, so
    output is bit-identical.  Falls back to the explode-join plan when
    the shingle vocabulary exceeds the dense-row bound."""
    from ..operators.ngram import shingle_pairs_gemm
    docs = read_table(spark, sf_dir, "documents")
    # staged tokenization: materialize the token array FIRST — the shared
    # dual-dialect template inlines split(text) inside each shingle
    # lambda (O(tokens^2) string work per doc, the price of keeping the
    # oracle arithmetic identical); the Spark-only plan stages it.
    toks = D.split_ws("text", SPARK)
    n = "size(toks)"
    idx = (f"filter(sequence(1, greatest(({n}) - 1, 1)), "
           f"i -> i <= ({n}) - 1)")
    grams_from_toks = (
        f"array_distinct(transform({idx}, i -> "
        f"element_at(toks, cast(i as int)) || '_' || "
        f"element_at(toks, cast(i + 1 as int))))")
    grams = (docs.selectExpr("doc_id", f"{toks} as toks")
             .selectExpr("doc_id", f"{grams_from_toks} as grams"))
    pairs = shingle_pairs_gemm(grams, _NGRAM_THRESHOLD)
    if pairs is None:  # vocabulary too large for dense incidence rows
        docs.createOrReplaceTempView("documents")
        return spark.sql(_ngram_jaccard(SPARK))
    return (pairs
            .where(f"cast(inter as double) / union >= {_NGRAM_THRESHOLD}")
            .selectExpr(
                "doc_a", "doc_b",
                "cast(round(cast(inter as double) / union, 6) as double) "
                "as jaccard"))


_reg(Query("ngram_jaccard", ("documents",),
           fn=_ngram_jaccard_fn,
           duck_sql=_ngram_jaccard(DUCK),
           doc="Word-bigram shingle Jaccard near-dup: incidence-GEMM scale "
               "plan (explode/equi-join fallback + oracle)"))


# ===========================================================================
# 5. Embedding similarity (brute-force cosine, near-dup, LSH buckets)
# ===========================================================================

def _dot64(d: str, a: str, b: str) -> str:
    if d == SPARK:
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
                f"cast(y as double)), cast(0 as double), (acc, v) -> acc + v)")
    return (f"list_aggregate(list_transform(range(1, 65), i -> "
            f"cast(list_extract({a}, i) as double) * "
            f"cast(list_extract({b}, i) as double)), 'sum')")


def _norm(d: str, a: str) -> str:
    if d == SPARK:
        return (f"sqrt(aggregate(transform({a}, x -> cast(x as double) * "
                f"cast(x as double)), cast(0 as double), (acc, v) -> acc + v))")
    return (f"sqrt(list_aggregate(list_transform({a}, x -> "
            f"cast(x as double) * cast(x as double)), 'sum'))")


def _cos(d: str, a: str, b: str) -> str:
    """Cosine with pinned degenerate semantics in BOTH dialects: a
    zero-norm or NULL embedding has an UNDEFINED cosine -> SQL NULL via
    nullif on the denominator.  Without it the dialects diverge exactly
    where real 100 TB corpora are dirty: Spark 4 runs ANSI mode, so 0/0
    is a DIVIDE_BY_ZERO *error*, while DuckDB returns NULL-or-NaN
    depending on which operand is degenerate (and NaN sorts FIRST in a
    desc window, silently outranking every real neighbor).  With NULL,
    near-dup thresholds drop such pairs (NULL >= t is false) and top-k
    windows rank them last (desc is NULLS LAST in both dialects) —
    verified against the all-pairs oracles on a degenerate corpus in
    tests/test_embedding_degenerate.py."""
    return (f"({_dot64(d, a, b)} / "
            f"nullif(({_norm(d, a)} * {_norm(d, b)}), 0))")


def _embed_neardup(d: str) -> str:
    cos = _cos(d, 'a.embedding', 'b.embedding')
    return f"""
select a.vec_id as vec_a, b.vec_id as vec_b,
       cast(round({cos}, 6) as double) as cosine
from embeddings a join embeddings b on a.vec_id < b.vec_id
where {cos} >= 0.35
"""


_NEARDUP_THRESHOLD = 0.35


def _embed_neardup_fn(spark, sf_dir: str):
    """Scale path: tiled-GEMM candidate generation (operators/ann.py
    neardup_candidates_blocked — no O(n^2) pair-row self-join), survivors
    re-verified with the exact Catalyst cosine fold so the output is
    bit-identical to the all-pairs DuckDB oracle."""
    from pyspark.sql import functions as F
    from ..operators.ann import neardup_candidates_blocked
    emb = read_table(spark, sf_dir, "embeddings")
    cand = neardup_candidates_blocked(emb, _NEARDUP_THRESHOLD)
    cos = _cos(SPARK, 'a.embedding', 'b.embedding')
    # shuffle_hash: the verify join must not broadcast the embedding
    # corpus (unbounded at scale) — hash-exchange both sides on vec_id
    a = emb.alias("a").hint("shuffle_hash")
    b = emb.alias("b").hint("shuffle_hash")
    return (cand
            .join(a, cand["vec_a"] == F.col("a.vec_id"))
            .join(b, cand["vec_b"] == F.col("b.vec_id"))
            .where(F.expr(f"{cos} >= {_NEARDUP_THRESHOLD}"))
            .selectExpr("vec_a", "vec_b",
                        f"cast(round({cos}, 6) as double) as cosine"))


_reg(Query("embed_neardup", ("embeddings",), fn=_embed_neardup_fn,
           duck_sql=_embed_neardup(DUCK),
           doc="Embedding-cosine near-dup pairs: tiled-GEMM candidate "
               "generation + exact-fold verify (Spark) vs all-pairs "
               "self-join (DuckDB oracle only)"))


# LSH-table near-dup: the true 100 TB path. L hyperplane tables; a pair is
# a candidate iff it collides in >= 1 table; candidates are exact-verified.
# Semantics are recall-bounded BY DESIGN (hyperplane LSH collision prob for
# a pair at angle theta is (1 - theta/pi)^planes per table) and both
# dialects compute the identical buckets, so the oracle checks the LSH
# OPERATOR itself, not a lossy approximation of another query.  Measured on
# this corpus (tests/test_ops_modules.py): qualifying pairs sit at cosine
# 0.35-0.6 (~69 deg), so recall vs the exact set is partial — the exact
# entry above is the recall-1 path; this one is the sub-quadratic one.
_LSH_TABLES = 4
# deterministic integer hyperplanes for LSH bucketing: w[j][i] in [-6, 6]
_ANN_PLANES = 8


def _lsh_table_bucket(d: str, t: int, col: str = "embedding") -> str:
    bits = []
    for j in range(_ANN_PLANES):
        w = f"((({j + 1}) * 31 + (i - 1) * 17 + {t} * 7) % 13 - 6)"
        proj = (f"aggregate(transform(sequence(1, 64), i -> {w} * "
                f"cast(element_at({col}, i) as double)), "
                f"cast(0 as double), (acc, v) -> acc + v)" if d == SPARK else
                f"list_aggregate(list_transform(range(1, 65), i -> {w} * "
                f"cast(list_extract({col}, i) as double)), 'sum')")
        bits.append(f"(case when ({proj}) > 0 then {1 << j} else 0 end)")
    return "(" + " + ".join(bits) + ")"


def _embed_neardup_lsh(d: str) -> str:
    cos = _cos(d, 'ea.embedding', 'eb.embedding')
    per_table = " union all ".join(
        f"select vec_id, {t} as tbl, {_lsh_table_bucket(d, t)} as bucket "
        f"from embeddings" for t in range(_LSH_TABLES))
    return f"""
with buckets as ({per_table}),
cand as (
  select distinct a.vec_id as vec_a, b.vec_id as vec_b
  from buckets a join buckets b
    on a.tbl = b.tbl and a.bucket = b.bucket and a.vec_id < b.vec_id
)
select c.vec_a, c.vec_b, cast(round({cos}, 6) as double) as cosine
from cand c
join embeddings ea on ea.vec_id = c.vec_a
join embeddings eb on eb.vec_id = c.vec_b
where {cos} >= {_NEARDUP_THRESHOLD}
"""


def _embed_neardup_lsh_fn(spark, sf_dir: str):
    """Materialized-stage variant of the LSH-table plan (the minhash
    pattern): the pure-SQL form computes the 32 hyperplane projections
    per vector as interpreted `aggregate(transform(sequence(...)))`
    higher-order folds, and CTE inlining evaluates the whole bucket
    stage once per self-join side — measured 2.45 s of the 3.59 s query
    at sf0.1 for only 2,000 vectors.  Here the buckets come from ONE
    persisted Arrow `mapInPandas` pass whose accumulation replays the
    SQL fold's exact IEEE order (acc = acc + w_i * x_i, i ascending,
    vectorized ACROSS rows, never reassociated within a row — a BLAS
    matmul would reorder the sum and could flip a bucket bit for a
    projection within rounding of 0), so the buckets are bit-identical
    to the template's and the DuckDB oracle still matches.  The verify
    evaluates the cosine once in a subquery (same rational, same
    round) instead of in both the filter and the projection."""
    import numpy as np
    import pandas as pd

    emb = read_table(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")

    def buckets(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # SQL-parity edge cases, pinned to the template's semantics:
            # a NULL embedding (or a NULL element — Arrow would lossily
            # deliver it as NaN, so the flag is computed JVM-side where
            # NULL and NaN are distinct) NULL-poisons every fold ->
            # `case when NULL > 0` is false for all planes -> bucket 0.
            # A NaN COMPONENT propagates NaN through the fold, and both
            # Spark and DuckDB treat NaN as greater than any number, so
            # the plane bit is SET -> the (acc > 0) test below must OR
            # in isnan to match.
            nullish = pdf["has_null"].to_numpy(dtype=bool)
            clean = ~nullish
            X = None
            if clean.any():
                X = np.vstack(pdf.loc[clean, "embedding"].to_numpy()) \
                    .astype(np.float64)
            frames = []
            for t in range(_LSH_TABLES):
                bucket = np.zeros(len(pdf), dtype=np.int32)
                if X is not None:
                    bsub = np.zeros(X.shape[0], dtype=np.int32)
                    for j in range(_ANN_PLANES):
                        acc = np.zeros(X.shape[0], dtype=np.float64)
                        for i in range(1, 65):
                            w = float(((j + 1) * 31 + (i - 1) * 17 + t * 7)
                                      % 13 - 6)
                            acc = acc + w * X[:, i - 1]
                        bsub = bsub + np.where(
                            (acc > 0) | np.isnan(acc), 1 << j, 0) \
                            .astype(np.int32)
                    bucket[clean] = bsub
                frames.append(pd.DataFrame({
                    "vec_id": pdf["vec_id"], "tbl": np.int32(t),
                    "bucket": bucket}))
            yield pd.concat(frames)

    b = (emb.selectExpr(
            "vec_id", "embedding",
            "(embedding is null or "
            "coalesce(exists(embedding, x -> x is null), false)) "
            "as has_null")
         .mapInPandas(buckets, "vec_id bigint, tbl int, bucket int")
         .persist())
    b.createOrReplaceTempView("lsh_buckets")

    d = SPARK
    cos = _cos(d, 'ea.embedding', 'eb.embedding')
    return spark.sql(f"""
        with cand as (
          select distinct a.vec_id as vec_a, b.vec_id as vec_b
          from lsh_buckets a join lsh_buckets b
            on a.tbl = b.tbl and a.bucket = b.bucket
           and a.vec_id < b.vec_id
        ),
        scored as (
          select c.vec_a, c.vec_b, {cos} as cos_raw
          from cand c
          join embeddings ea on ea.vec_id = c.vec_a
          join embeddings eb on eb.vec_id = c.vec_b
        )
        select vec_a, vec_b, cast(round(cos_raw, 6) as double) as cosine
        from scored
        where cos_raw >= {_NEARDUP_THRESHOLD}
    """)


_reg(Query("embed_neardup_lsh", ("embeddings",),
           fn=_embed_neardup_lsh_fn,
           duck_sql=_embed_neardup_lsh(DUCK),
           doc="Sub-quadratic LSH-table near-dup: banded hyperplane "
               "buckets (one persisted order-exact Arrow pass) -> "
               "equi-join candidates -> exact cosine verify"))


def _embed_neardup_ivf(d: str) -> str:
    # IVF-list candidate generation (the other sub-quadratic path): pairs
    # sharing a coarse-centroid inverted list, exact-verified.  Same
    # recall-bounded-by-design semantics as the LSH variant — probing one
    # list trades recall for a corpus-fraction candidate volume.
    cos = _cos(d, 'e.embedding', 'c.embedding')
    pcos = _cos(d, 'ea.embedding', 'eb.embedding')
    return f"""
with assign as (
  select e_vec_id as vec_id, centroid
  from (
    select e.vec_id as e_vec_id, c.vec_id as centroid,
           row_number() over (partition by e.vec_id
                              order by round({cos}, 6) desc, c.vec_id asc) as rn
    from embeddings e cross join embeddings c
    where c.vec_id < 8
  ) t where rn = 1
),
cand as (
  select a.vec_id as vec_a, b.vec_id as vec_b
  from assign a join assign b
    on a.centroid = b.centroid and a.vec_id < b.vec_id
)
select c.vec_a, c.vec_b, cast(round({pcos}, 6) as double) as cosine
from cand c
join embeddings ea on ea.vec_id = c.vec_a
join embeddings eb on eb.vec_id = c.vec_b
where {pcos} >= {_NEARDUP_THRESHOLD}
"""


_sql_pair("embed_neardup_ivf", ("embeddings",), _embed_neardup_ivf,
          "IVF-list near-dup: coarse-centroid inverted lists -> in-list "
          "candidate pairs -> exact cosine verify")


def _ann_topk(d: str) -> str:
    cos = _cos(d, 'q.embedding', 'c.embedding')
    return f"""
select query_id, cand_id, cosine, cast(rn as bigint) as rank
from (
  select q.vec_id as query_id, c.vec_id as cand_id,
         cast(round({cos}, 6) as double) as cosine,
         row_number() over (partition by q.vec_id
                            order by round({cos}, 6) desc, c.vec_id asc) as rn
  from embeddings q cross join embeddings c
  where q.vec_id < 32 and c.vec_id <> q.vec_id
) t where rn <= 5
"""


_sql_pair("ann_topk", ("embeddings",), _ann_topk,
          "Brute-force cosine top-k (baseline ANN); rank on rounded sim")


def _ann_lsh_bucket(d: str) -> str:
    bits = []
    for j in range(_ANN_PLANES):
        w = f"((({j + 1}) * 31 + (i - 1) * 17) % 13 - 6)"
        proj = (f"aggregate(transform(sequence(1, 64), i -> {w} * "
                f"cast(element_at(embedding, i) as double)), "
                f"cast(0 as double), (acc, v) -> acc + v)" if d == SPARK else
                f"list_aggregate(list_transform(range(1, 65), i -> {w} * "
                f"cast(list_extract(embedding, i) as double)), 'sum')")
        bits.append(f"(case when ({proj}) > 0 then {1 << j} else 0 end)")
    bucket = "(" + " + ".join(bits) + ")"
    return f"""
select cast(bucket as bigint) as bucket, cast(count(*) as bigint) as n,
       cast(min(vec_id) as bigint) as min_vec
from (select vec_id, {bucket} as bucket from embeddings) t
group by bucket
"""


_sql_pair("ann_lsh_bucket", ("embeddings",), _ann_lsh_bucket,
          "Random-hyperplane LSH bucket assignment (deterministic planes)")


# ===========================================================================
# 6. Text analysis (lang-id, quality, token counts, fingerprint)
# ===========================================================================

_LANG_MARKERS = {
    "en": ["the", "a", "fast", "slow"],
    "de": ["table", "value", "group", "und"],
    "es": ["row", "data", "stream", "uno"],
    "fr": ["query", "window", "agg", "une"],
    "zh": ["join", "merge", "batch", "zhong"],
}


def _langid(d: str) -> str:
    toks = D.tokens_distinct("text", d)
    scores = {}
    for lang, markers in sorted(_LANG_MARKERS.items()):
        lit = D.str_arr_lit(markers, d)
        if d == SPARK:
            scores[lang] = f"size(array_intersect({toks}, {lit}))"
        else:
            scores[lang] = f"len(list_intersect({toks}, {lit}))"
    langs = sorted(_LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{x}" for x in langs) + ")"
    pick = "case " + " ".join(
        f"when s_{x} = {best.replace('s_', 's_')} and {best} = s_{x} then '{x}'"
        for x in langs) + " end"
    # first-max tie-break in fixed lang order
    pick = ("case " + " ".join(f"when s_{x} >= {best} then '{x}'"
                               for x in langs) + " end")
    inner = ", ".join(f"{expr} as s_{lang}" for lang, expr in scores.items())
    return f"""
select doc_id, {pick} as pred_lang, cast({best} as bigint) as score,
       case when {pick} = lang then 1 else 0 end as agrees
from (select doc_id, lang, {inner} from documents) t
"""


_sql_pair("langid", ("documents",), _langid,
          "n-gram/stopword language-ID heuristic with argmax tie-break")


def _quality_score(d: str) -> str:
    toks = D.split_ws("text", d)
    dtoks = D.tokens_distinct("text", d)
    n = D.lsize(toks, d)
    nd = D.lsize(dtoks, d)
    charsum = D.lsum(D.lmap(toks, "t -> length(t)", d), d)
    return f"""
select doc_id, cast({n} as bigint) as n_tokens,
       cast({nd} as bigint) as n_distinct,
       cast(round(cast({nd} as double) / {n}, 6) as double) as distinct_ratio,
       cast(round(cast({charsum} as double) / {n}, 6) as double) as avg_token_len,
       cast(round(least(1.0, cast({n} as double) / 100)
                  * (cast({nd} as double) / {n}), 6) as double) as quality
from documents where {n} > 0
"""


_sql_pair("quality_score", ("documents",), _quality_score,
          "Document quality scoring (length/diversity ratios)")


def _token_count(d: str) -> str:
    toks = D.split_ws("text", d)
    rex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    bpe = (f"regexp_count(text, '{rex}')" if d == SPARK
           else f"len(regexp_extract_all(text, '{rex}'))")
    return f"""
select doc_id, cast({D.lsize(toks, d)} as bigint) as ws_tokens,
       cast({bpe} as bigint) as bpe_ish_tokens
from documents
"""


_sql_pair("token_count", ("documents",), _token_count,
          "Whitespace + BPE-ish regex token counting")


# precomputed rolling-hash powers: B^i mod p for order-sensitive fingerprint
_FP_P = (1 << 31) - 1
_FP_B = 1000003
_FP_POWS = []
_acc = 1
for _ in range(256):
    _FP_POWS.append(_acc)
    _acc = (_acc * _FP_B) % _FP_P


def _fingerprint(d: str) -> str:
    toks = D.split_ws("text", d)
    pows = D.arr_lit(_FP_POWS, d)
    body = (f"(({D.polyhash(D.at(toks, 'i', d), d)}) % {_FP_P}) * "
            f"{D.at(pows, 'i', d)} % {_FP_P}")
    # same descending-sequence guard as ngram_jaccard
    idx = D.lfilter(D.seq1(f"greatest(least({D.lsize(toks, d)}, 256), 1)", d),
                    f"i -> i <= {D.lsize(toks, d)}", d)
    terms = D.lmap(idx, f"i -> {body}", d)
    return f"""
select doc_id, cast(({D.lsum(terms, d)}) % {_FP_P} as bigint) as fingerprint
from documents
"""


_sql_pair("fingerprint", ("documents",), _fingerprint,
          "Order-sensitive rolling-hash document fingerprint")


# ===========================================================================
# 7. Multimodal plumbing (binary columns + typed metadata; decode stubbed)
# ===========================================================================

def _media_meta(d: str) -> str:
    blob = ("cast(text as binary)" if d == SPARK else "encode(text)")
    prefix = (f"substring(text, 1, 8)")
    return f"""
select doc_id, cast(octet_length({blob}) as bigint) as n_bytes,
       {prefix} as magic, lang as media_lang
from documents
"""


_sql_pair("media_meta", ("documents",), _media_meta,
          "Opaque-binary metadata extraction (multimodal column plumbing)")


def _style_classes(d: str) -> str:
    # S5 QML graduated style: classify a deterministic 0..100 index
    # surrogate through the reference renderer's class table
    # (ref:styles/index.qml; sources/qml_style.py) and roll up per class.
    from ..sources.qml_style import (INDEX_STYLE_RANGES, hex_color,
                                     style_expr_sql)
    sym = style_expr_sql("(c_custkey % 101)")
    color_case = ("case style_symbol " + " ".join(
        f"when {s} then '{hex_color(c)}'"
        for _lo, _up, s, _lbl, c in INDEX_STYLE_RANGES) + " end")
    return f"""
select cast(style_symbol as bigint) as style_symbol,
       {color_case} as style_color,
       cast(count(*) as bigint) as n
from (select ({sym}) as style_symbol from customer) t
group by style_symbol
"""


_sql_pair("style_classes", ("customer",), _style_classes,
          "S5 QML graduated-style classification (reference color ramp as "
          "a CASE chain) + per-class rollup")


# ===========================================================================
# 8. Non-SQL-expressible operators (driver does rows-only checks)
# ===========================================================================

def _cqi_score_fn(spark, sf_dir: str):
    """Graded flagship: the full distributed pipeline, projected onto the
    deterministic (id, side, way_type, index, stress_level) columns and
    checked against a fixture precomputed by the PANDAS reference path
    (sources/webways.py flagship_expected; regenerate with
    scripts/gen_flagship_fixture.py).  Agreement proves the Spark
    composition — cell join, sidepath aggregation, writeback, batch
    scoring — reproduces the golden-verified kernel independent of
    partitioning.  The full 38-column output is `cqi_score_ways_full`."""
    from ..sources.webways import FLAGSHIP_PROJECTION, score_documents
    return score_documents(spark, sf_dir).select(*FLAGSHIP_PROJECTION)


def _flagship_fixture_sql() -> str:
    from ._flagship_fixture import FIXTURE_SQL
    return FIXTURE_SQL


def _flagship_full_fixture_sql() -> str:
    from ._flagship_fixture import FULL_FIXTURE_SQL
    return FULL_FIXTURE_SQL


def _cqi_score_full_fn(spark, sf_dir: str):
    """Value oracle over the ENTIRE 38-column flagship output: each scored
    row is collapsed to a sha256 digest of all output columns (shared
    canonicalization webways.digest_rows_pdf) so any value drift in any
    column — not just the 5-column projected twin — fails the compare.
    The digest runs as a pure mapInPandas stage (no extra shuffle)."""
    from ..sources.webways import digest_scored, score_documents
    return digest_scored(score_documents(spark, sf_dir))


_reg(Query("cqi_score_ways", ("documents",), fn=_cqi_score_fn,
           duck_sql=_flagship_fixture_sql(),
           doc="Flagship: documents -> pages -> extraction -> distributed "
               "spatial join -> full CQI scoring (SURVEY §2.8 R1-R18), "
               "graded against the pandas-kernel fixture oracle"))

_reg(Query("cqi_score_ways_full", ("documents",), fn=_cqi_score_full_fn,
           duck_sql=_flagship_full_fixture_sql(),
           doc="Flagship full output, value-graded: per-row sha256 digest "
               "of all 38 scored columns vs the pandas-kernel fixture"))


def _media_pipeline_fn(spark, sf_dir: str):
    """decode + resize(128x96) + frame-sample(k=24), one row per doc.

    Each stage is the REAL operator (three Arrow mapInPandas passes over
    the same opaque-binary column, operators/media.py), composed with
    doc_id equi-joins — so the graded values cover the resize sizing/
    repetition arithmetic and the frame-sampling multiplicity/content,
    not just the decode."""
    from pyspark.sql import functions as F
    from ..operators.media import (decode_media_features_flat, resize_media,
                                   sample_frames)
    docs = read_table(spark, sf_dir, "documents")
    dec = decode_media_features_flat(docs)
    rz = resize_media(docs, 128, 96).select(
        "doc_id",
        F.octet_length("payload").cast("long").alias("resized_n_bytes"),
        F.lower(F.hex("payload")).alias("resized_hex"))
    fr = (sample_frames(docs, every_k=24)
          .groupBy("doc_id")
          .agg(F.count("*").cast("long").alias("n_sampled"),
               F.sum("frame_idx").cast("long").alias("sum_frame_idx"),
               F.max(F.when(F.col("frame_idx") == 0,
                            F.lower(F.hex("frame")))).alias("frame0_hex")))
    return (dec.join(rz, "doc_id")
            .join(fr, "doc_id", "left")
            .withColumn("n_sampled",
                        F.coalesce("n_sampled", F.lit(0).cast("long")))
            .withColumn("sum_frame_idx",
                        F.coalesce("sum_frame_idx", F.lit(0).cast("long"))))


def _ann_topk_blocked_fn(spark, sf_dir: str):
    from ..operators.ann import ann_topk_blocked
    emb = read_table(spark, sf_dir, "embeddings")
    return ann_topk_blocked(emb, n_queries=32, k=5)


_reg(Query("ann_topk_blocked", ("embeddings",), fn=_ann_topk_blocked_fn,
           duck_sql=_ann_topk(DUCK),
           doc="Scale-path ANN: per-batch numpy top-(k+slack) candidates + "
               "exact-fold re-rank, graded against the brute-force oracle"))


def _tile_pyramid(d: str) -> str:
    # raster pyramid rollup: fine 2 km cells -> coarse 8 km tiles (4x4),
    # the aggregation cascade a tile server runs per zoom level.
    cx, cy = CUST_PT
    fx = idiv(cx, CELL_M, d)
    fy = idiv(cy, CELL_M, d)
    coarse = f"({idiv(fx, 4, d)} * 100 + {idiv(fy, 4, d)})"
    fine = f"({fx} * 100 + {fy})"
    return f"""
select coarse_cell,
       cast(count(*) as bigint) as n_fine_cells,
       cast(sum(n_points) as bigint) as n_points,
       cast(round(sum(sum_acctbal), 2) as double) as sum_acctbal
from (
  select cast({coarse} as bigint) as coarse_cell,
         cast({fine} as bigint) as fine_cell,
         count(*) as n_points,
         sum(c_acctbal) as sum_acctbal
  from customer
  group by {coarse}, {fine}
) t group by coarse_cell
"""


_sql_pair("tile_pyramid", ("customer",), _tile_pyramid,
          "Two-level raster tile pyramid rollup (fine cells -> coarse tiles)")


def _media_pipeline_sql(d: str) -> str:
    # the deterministic stub decode/resize/frame-sample of
    # operators/media.py, expressed as hash arithmetic both engines can
    # run: byte k of sha256(payload) drives each fake media attribute;
    # the resized payload is (sha256(payload || ':128x96') * 2)[:48]; the
    # sampled frame set of a video with n frames is range(0, n, 24) and
    # frame 0's bytes are sha256(payload || int32be(0)).  DuckDB's
    # sha256(varchar) hashes the UTF-8 bytes — identical to Spark's
    # sha2(cast(text as binary)) — and chr(0) gives the NUL bytes of the
    # big-endian frame index 0.
    h = ("sha2(cast(text as binary), 256)" if d == SPARK
         else "sha256(text)")
    rz_src = "concat(text, ':128x96')" if d == SPARK else "text || ':128x96'"
    rh = (f"sha2(cast({rz_src} as binary), 256)" if d == SPARK
          else f"sha256({rz_src})")
    nul4 = ("concat(text, chr(0), chr(0), chr(0), chr(0))" if d == SPARK
            else "text || chr(0) || chr(0) || chr(0) || chr(0)")
    f0 = (f"sha2(cast({nul4} as binary), 256)" if d == SPARK
          else f"sha256({nul4})")
    pos = "instr" if d == SPARK else "strpos"

    def byte(k: int) -> str:
        hi = f"{pos}('0123456789abcdef', substr(h, {2 * k + 1}, 1)) - 1"
        lo = f"{pos}('0123456789abcdef', substr(h, {2 * k + 2}, 1)) - 1"
        return f"(({hi}) * 16 + ({lo}))"
    mt = (f"{D.at(D.str_arr_lit(['image/png', 'image/jpeg', 'audio/wav', 'video/mp4'], d), f'({byte(0)}) % 4 + 1', d)}")
    blob = ("cast(text as binary)" if d == SPARK else "encode(text)")
    feats = ",\n       ".join(
        f"cast(round(({byte(4 + i)}) / 255.0, 6) as double) as feature_{i}"
        for i in range(8))
    # frame-sample arithmetic: m = ceil(n_frames / 24) sampled indices
    # {0, 24, ..., 24*(m-1)}, so count = m and sum = 24 * m*(m-1)/2
    is_video = f"(({byte(0)}) % 4 = 3)"
    nf = f"(1 + ({byte(3)}) % 240)"
    m = idiv(f"({nf} + 23)", 24, d)
    sum_idx = idiv(f"(24 * {m} * ({m} - 1))", 2, d)
    return f"""
select doc_id,
       cast(octet_length({blob}) as bigint) as n_bytes,
       {mt} as media_type,
       cast(64 + (({byte(1)}) % 64) * 16 as bigint) as width,
       cast(64 + (({byte(2)}) % 64) * 16 as bigint) as height,
       cast({nf} as bigint) as n_frames,
       {feats},
       cast(case when text is not null then 48 end as bigint)
         as resized_n_bytes,
       (rh || substr(rh, 1, 32)) as resized_hex,
       cast(case when {is_video} then {m} else 0 end as bigint) as n_sampled,
       cast(case when {is_video} then {sum_idx} else 0 end
            as bigint) as sum_frame_idx,
       case when {is_video} then f0 end as frame0_hex
from (select doc_id, text, {h} as h, {rh} as rh, {f0} as f0
      from documents) t
"""


# `media_pipeline` IS the mapInPandas media stack (operators/media.py —
# decode, resize_media, sample_frames composed on doc_id) graded against
# the hash-arithmetic DuckDB oracle: every stub codec output is a pure
# function of sha256(payload), so the oracle recomputes every byte-derived
# attribute (all 8 feature dims, the resized payload bytes via their hex,
# the sampled-frame count/index-sum and frame 0's bytes) independently of
# the Python path.  Python round() and SQL round() agree on every k/255
# input (k=0..255, exhaustively checked in tests/test_ops_modules.py).
_reg(Query("media_pipeline", ("documents",), fn=_media_pipeline_fn,
           duck_sql=_media_pipeline_sql(DUCK),
           doc="Multimodal decode + resize + frame-sample pipeline over "
               "opaque binary columns (three mapInPandas operators vs one "
               "sha256-arithmetic oracle)"))

# NOTE (50-query driver cap bookkeeping): `media_decode_sql`, the
# dual-dialect SQL twin, was retired in round 3 (its arithmetic is proven
# by the operator-backed entry against the same oracle).  In round 4 the
# `media_decode` entry itself was SUPERSEDED by `media_pipeline` above —
# a strict superset (same decode columns, same oracle arithmetic) that
# additionally grades resize_media and sample_frames, which round 3 left
# as the only ungraded operators.  The catalog stays at exactly 50.


def _ann_ivf_topk(d: str) -> str:
    # IVF-style ANN: 8 coarse "centroids" (the first 8 vectors), every
    # vector assigned to its nearest centroid (exact integer-free cosine
    # argmax), then top-3 search restricted to the query's own cell — the
    # inverted-file scale path (probe 1 list instead of the whole corpus).
    cos = _cos(d, 'e.embedding', 'c.embedding')
    qcos = _cos(d, 'q.embedding', 'x.embedding')
    return f"""
with assign as (
  select e_vec_id as vec_id, centroid
  from (
    select e.vec_id as e_vec_id, c.vec_id as centroid,
           row_number() over (partition by e.vec_id
                              order by round({cos}, 6) desc, c.vec_id asc) as rn
    from embeddings e cross join embeddings c
    where c.vec_id < 8
  ) t where rn = 1
)
select query_id, cand_id, cosine, cast(rn as bigint) as rank
from (
  select q.vec_id as query_id, x.vec_id as cand_id,
         cast(round({qcos}, 6) as double) as cosine,
         row_number() over (partition by q.vec_id
                            order by round({qcos}, 6) desc, x.vec_id asc) as rn
  from embeddings q
  join assign aq on aq.vec_id = q.vec_id
  join assign ax on ax.centroid = aq.centroid and ax.vec_id <> q.vec_id
  join embeddings x on x.vec_id = ax.vec_id
  where q.vec_id < 24
) t where rn <= 3
"""


_sql_pair("ann_ivf_topk", ("embeddings",), _ann_ivf_topk,
          "IVF-bucketed ANN: coarse-centroid assignment + in-list top-k "
          "(probe one inverted list, not the corpus)")


def _components_fn(spark, sf_dir: str):
    # Spark side: LSH candidate pairs -> iterative label propagation
    # (operators/components.py; pointer-jumped min-label, localCheckpoint
    # per round).  The DuckDB oracle computes the same components with a
    # recursive-CTE transitive closure — tractable at oracle scale only.
    from pyspark.sql import functions as F

    from ..operators.components import connected_components
    pairs = _dedup_minhash_fn(spark, sf_dir).select("doc_a", "doc_b")
    return (connected_components(pairs, "doc_a", "doc_b")
            .select(F.col("node").cast("long").alias("node"),
                    F.col("component").cast("long").alias("component")))


def _components_duck() -> str:
    pairs = _dedup_minhash_lsh()
    return f"""
with recursive pairs as ({pairs.strip().rstrip(';')}),
edges2 as (
  select doc_a as a, doc_b as b from pairs
  union
  select doc_b as a, doc_a as b from pairs
),
reach(n, m) as (
  select a, a from (select a from edges2 union select b from edges2) t
  union
  select r.n, e.b from reach r join edges2 e on e.a = r.m
)
select cast(n as bigint) as node, cast(min(m) as bigint) as component
from reach group by n
"""


_reg(Query("dedup_components", ("documents",), fn=_components_fn,
           duck_sql=_components_duck(),
           doc="Near-dup clustering: iterative connected components over "
               "dedup_minhash_lsh's pair graph vs a recursive-CTE closure "
               "oracle"))


def _pricing_rollup(d: str) -> str:
    # ROLLUP + grouping(): subtotal/total rows in one aggregation pass
    return f"""
select l_returnflag, l_linestatus,
       cast(grouping(l_returnflag) as int) as g_flag,
       cast(grouping(l_linestatus) as int) as g_status,
       cast(count(*) as bigint) as n,
       cast(round(sum(l_extendedprice), 2) as double) as sum_price
from lineitem
group by rollup(l_returnflag, l_linestatus)
"""


_sql_pair("pricing_rollup", ("lineitem",), _pricing_rollup,
          "ROLLUP subtotal hierarchy with grouping() markers")


def _events_percentiles(d: str) -> str:
    # exact continuous percentiles (Spark percentile == DuckDB
    # quantile_cont, verified bit-exact)
    fn = "percentile" if d == SPARK else "quantile_cont"
    return f"""
select event_type,
       cast({fn}(value, 0.5) as double) as p50,
       cast({fn}(value, 0.9) as double) as p90,
       cast({fn}(value, 0.99) as double) as p99,
       cast(count(*) as bigint) as n
from events group by event_type
"""


_sql_pair("events_percentiles", ("events",), _events_percentiles,
          "Exact continuous percentiles per group (distribution profiling)")


def _way_type_synth(d: str) -> str:
    """Deterministic way_type values from part keys (all 16 classes)."""
    from .. import config as C
    types = sorted(C.BASE_INDEX)
    return D.at(D.str_arr_lit(types, d), f"(p_partkey % {len(types)}) + 1", d)


def _rule_base_index(d: str) -> str:
    # R9 base index lookup (ref:cycling_quality_index.py:1210-1218,
    # table parameter.py:215-232) as a columnar CASE WHEN rule table
    from .. import config as C
    wt = _way_type_synth(d)
    case = ("case " + " ".join(
        f"when way_type = '{k}' then {v}"
        for k, v in sorted(C.BASE_INDEX.items())) + " end")
    return f"""
select p_partkey, way_type, cast({case} as bigint) as base_index
from (select p_partkey, {wt} as way_type from part) t
"""


_sql_pair("rule_base_index", ("part",), _rule_base_index,
          "R9 base-index rule table as columnar CASE WHEN")


def _rule_maxspeed_factor(d: str) -> str:
    # R13 threshold-scan maxspeed factor (ref:cycling_quality_index.py:
    # 1279-1286, dict parameter.py:162-169): reverse-sorted >= scan ==
    # descending CASE WHEN chain.
    from .. import config as C
    ms = "(10 * (p_partkey % 16))"
    chain = " ".join(
        f"when {ms} >= {k} then cast({v} as double)"
        for k, v in sorted(C.MAXSPEED_FACTOR.items(), reverse=True))
    return f"""
select p_partkey, cast({ms} as bigint) as maxspeed,
       cast(case {chain} else 1.05 end as double) as fac_maxspeed
from part
"""


_sql_pair("rule_maxspeed_factor", ("part",), _rule_maxspeed_factor,
          "R13 maxspeed threshold scan as a descending CASE chain")


def _rule_lts(d: str) -> str:
    # R17-shaped Level of Traffic Stress decision tree over synthesized
    # (way_type, maxspeed, width) — the engine's columnar expression of a
    # nested rule tree (ref:cycling_quality_index.py:1393-1434 shape).
    wt = _way_type_synth(d)
    ms = "(10 * (p_partkey % 16))"
    width = "(2.0 + (p_partkey % 9) * 0.5)"
    sep = ("('cycle path','cycle track','shared path','segregated path',"
           "'shared footway')")
    lanes = ("('cycle lane (advisory)','cycle lane (exclusive)',"
             "'cycle lane (protected)','cycle lane (central)')")
    return f"""
select p_partkey, way_type, cast(maxspeed as bigint) as maxspeed,
       cast(width as double) as width,
       cast(case
         when way_type in {sep} then 1
         when way_type in {lanes} and maxspeed <= 30 then 1
         when way_type in {lanes} and maxspeed <= 50 and width >= 2.0 then 2
         when way_type in {lanes} then 3
         when maxspeed <= 30 and width >= 4.0 then 2
         when maxspeed <= 30 then 3
         when maxspeed <= 50 then 3
         else 4
       end as int) as stress_level
from (select p_partkey, {wt} as way_type, {ms} as maxspeed,
             {width} as width from part) t
"""


_sql_pair("rule_lts", ("part",), _rule_lts,
          "R17 Level-of-Traffic-Stress decision tree as nested CASE WHEN")


def _rule_width_factor(d: str) -> str:
    # R10 width-factor logistic curves (ref:cycling_quality_index.py:
    # 1247-1253): <= 3 m (or shared) -> 1.1/(1+20 e^(-2.1 w)) else
    # 2/(1+1.8 e^(-0.24 w)); round 3.  exp() is libm on both engines —
    # bit-identical for identical double inputs (verified).
    w = "(1.0 + (p_partkey % 23) * 0.25)"
    shared = "((p_partkey % 5) = 0)"
    return f"""
select p_partkey, cast(w as double) as calc_width,
       cast(case when shared or w <= 3.0
            then round(1.1 / (1 + 20 * exp(-2.1 * w)), 3)
            else round(2.0 / (1 + 1.8 * exp(-0.24 * w)), 3)
       end as double) as fac_width
from (select p_partkey, {w} as w, {shared} as shared from part) t
"""


_sql_pair("rule_width_factor", ("part",), _rule_width_factor,
          "R10 logistic width factor (both curve branches), rounded 3")


def _rule_surface_factor(d: str) -> str:
    # R11: smoothness factor preferred, else surface factor
    # (ref:cycling_quality_index.py:1266-1270; tables parameter.py:102-143)
    from .. import config as C
    surfaces = sorted(C.SURFACE_FACTOR)
    smooth_vals = sorted(C.SMOOTHNESS_FACTOR) + ["", ""]
    surf = D.at(D.str_arr_lit(surfaces, d),
                f"(p_partkey % {len(surfaces)}) + 1", d)
    smooth = D.at(D.str_arr_lit(smooth_vals, d),
                  f"(p_partkey % {len(smooth_vals)}) + 1", d)
    sm_case = ("case smoothness " + " ".join(
        f"when '{k}' then cast({v} as double)"
        for k, v in sorted(C.SMOOTHNESS_FACTOR.items())) + " end")
    sf_case = ("case surface " + " ".join(
        f"when '{k}' then cast({v} as double)"
        for k, v in sorted(C.SURFACE_FACTOR.items())) + " end")
    return f"""
select p_partkey, surface, smoothness,
       cast(coalesce({sm_case}, {sf_case}) as double) as fac_surface
from (select p_partkey, {surf} as surface, {smooth} as smoothness
      from part) t
"""


_sql_pair("rule_surface_factor", ("part",), _rule_surface_factor,
          "R11 smoothness-preferred surface factor lookup")


def _props_extract(d: str) -> str:
    # semi-structured JSON property extraction over the event stream
    # (webtext metadata parsing; Spark get_json_object == DuckDB
    # json_extract_string, verified).  json_valid guard: web-scale props
    # strings are dirty, and the dialects disagree on malformed JSON —
    # Spark's get_json_object silently yields NULL, DuckDB's
    # json_extract_string raises Malformed JSON.  Pinned: malformed -> NULL.
    fn = ("get_json_object(props, '$.k')" if d == SPARK
          else "case when json_valid(props) then "
               "json_extract_string(props, '$.k') end")
    # integral-string guard instead of a bare try_cast: the dialects
    # disagree on non-integral numeric strings ('3.5' -> NULL in Spark,
    # ROUNDED to 4 by DuckDB's string->bigint cast).  Pinned: k counts as
    # an integer property only when it prints as one.
    is_int = ("regexp_like(v, '^-?[0-9]+$')" if d == SPARK
              else "regexp_matches(v, '^-?[0-9]+$')")
    # try_cast INSIDE the regex guard: the regex bounds the shape but not
    # the magnitude — a 20-digit integral string passes it and a plain
    # cast would then THROW in both dialects (Spark ANSI overflow,
    # DuckDB ConversionException).  Pinned: wider-than-int64 -> NULL.
    return f"""
select event_type,
       cast(count(*) as bigint) as n,
       cast(sum(k) as bigint) as sum_k,
       cast(min(k) as bigint) as min_k,
       cast(max(k) as bigint) as max_k
from (
  select event_type,
         case when {is_int} then try_cast(v as bigint) end as k
  from (select event_type, {fn} as v from events) raw
) t group by event_type
"""


_sql_pair("props_extract", ("events",), _props_extract,
          "Semi-structured JSON property extraction + aggregation")
