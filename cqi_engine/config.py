"""Rule tables and constants for the cycling-quality scoring engine.

Values are behavioral contracts taken from the reference implementation's
configuration (kolumdium/OSM-Cycling-Quality-Index, `parameter.py` and the
constants at the top of `cycling_quality_index.py`).  The *representation*
here is our own: tag whitelists are generated from compact matrix specs, and
tables are grouped by pipeline stage.

Citations use ``ref:<file>:<line>`` pointing into /root/reference.
"""

from __future__ import annotations

from itertools import product

# --- coordinate systems (ref:parameter.py:3-5) ------------------------------
CRS_OUTPUT = "EPSG:4326"
CRS_METRIC = "EPSG:25833"  # ETRS89 / UTM zone 33N

RIGHT_HAND_TRAFFIC = True  # ref:parameter.py:9

# --- sidepath spatial join (ref:parameter.py:18-19) -------------------------
SIDEPATH_BUFFER_SIZE_M = 22.0  # dwithin radius around each check point
SIDEPATH_SAMPLE_SPACING_M = 100.0  # check-point spacing along a path

# --- offsets (ref:parameter.py:15) -------------------------------------------
OFFSET_DISTANCE = 0  # 0 | meters | 'realistic'

# --- oneway defaults (ref:parameter.py:22-23) --------------------------------
DEFAULT_ONEWAY_CYCLE_LANE = "yes"
DEFAULT_ONEWAY_CYCLE_TRACK = "yes"

# --- access --------------------------------------------------------------
# ref:cycling_quality_index.py:36
ALLOWED_BICYCLE_ACCESS = [
    "yes", "permissive", "designated", "use_sidepath",
    "optional_sidepath", "discouraged",
]
# ref:parameter.py:26
CYCLING_PROHIBITED_HIGHWAYS = ["motorway", "motorway_link", "trunk", "trunk_link"]
# access inheritance chains (ref:definitions.py:54-64)
ACCESS_FALLBACK_CHAIN = {
    "foot": ["access"],
    "vehicle": ["access"],
    "bicycle": ["vehicle", "access"],
    "motor_vehicle": ["vehicle", "access"],
    "motorcar": ["motor_vehicle", "vehicle", "access"],
    "hgv": ["motor_vehicle", "vehicle", "access"],
    "psv": ["motor_vehicle", "vehicle", "access"],
    "bus": ["psv", "motor_vehicle", "vehicle", "access"],
}

# --- way-type classifier inputs (ref:cycling_quality_index.py:37-48) ---------
LINK_TAGS = ["footway", "cycleway", "path", "bridleway"]
CROSSING_TAGS = ["footway", "cycleway", "path", "bridleway"]
SHARED_FOOTWAY_HIGHWAYS = ["footway", "pedestrian", "bridleway", "steps"]
CYCLEWAY_WAY_TYPES = [
    "cycle path", "cycle track", "shared path", "segregated path",
    "shared footway", "crossing", "link", "cycle lane (advisory)",
    "cycle lane (exclusive)", "cycle lane (protected)", "cycle lane (central)",
]
ONEWAY_VALUES = ["yes", "no", "-1", "alternating", "reversible"]
SHARED_WAY_TYPES = [  # motor-traffic way types
    "bicycle road", "shared road", "shared traffic lane", "track or service",
]

# --- default widths (ref:parameter.py:29-61) ---------------------------------
DEFAULT_HIGHWAY_WIDTH_FALLBACK = 11.0
DEFAULT_HIGHWAY_WIDTH = {
    "motorway": 15.0, "motorway_link": 6.0, "trunk": 15.0, "trunk_link": 6.0,
    "primary": 17.0, "primary_link": 4.0, "secondary": 15.0,
    "secondary_link": 4.0, "tertiary": 13.0, "tertiary_link": 4.0,
    "unclassified": 11.0, "residential": 11.0, "living_street": 6.0,
    "pedestrian": 6.0, "road": 11.0, "service": 4.0, "track": 2.5,
    "cycleway": 1.5, "footway": 2.0, "bridleway": 2.0, "steps": 2.0,
    "path": 2.0,
}
WIDTH_TRAFFIC_LANE = 3.2
WIDTH_BUS_LANE = 4.5
WIDTH_CYCLE_LANE = 1.4
WIDTH_PARKING_PARALLEL = 2.2
WIDTH_PARKING_DIAGONAL = 4.5
WIDTH_PARKING_PERPENDICULAR = 5.0

# --- default surfaces (ref:parameter.py:69-100) -------------------------------
DEFAULT_CYCLEWAY_SURFACE_TRACKS = "paving_stones"
DEFAULT_CYCLEWAY_SURFACE_LANES = "asphalt"
DEFAULT_HIGHWAY_SURFACE = {
    "living_street": "paving_stones", "pedestrian": "paving_stones",
    "track": "concrete", "cycleway": "paving_stones",
    "footway": "paving_stones", "path": "paving_stones",
}
# every other highway class defaults to asphalt
for _hw in DEFAULT_HIGHWAY_WIDTH:
    DEFAULT_HIGHWAY_SURFACE.setdefault(_hw, "asphalt")
# the reference table has no steps/bridleway entries (they fall back to the
# 'path' default at lookup time, ref:cycling_quality_index.py:910)
del DEFAULT_HIGHWAY_SURFACE["steps"]
del DEFAULT_HIGHWAY_SURFACE["bridleway"]
DEFAULT_TRACK_SURFACE = {
    "grade1": "asphalt", "grade2": "compacted", "grade3": "unpaved",
    "grade4": "ground", "grade5": "grass",
}

# --- quality factor tables (ref:parameter.py:102-188) -------------------------
SURFACE_FACTOR = {
    "asphalt": 1.0, "paved": 1.0, "concrete": 1.0, "chipseal": 1.0,
    "metal": 1.0,
    "paving_stones": 0.7, "compacted": 0.7, "fine_gravel": 0.7,
    "concrete:plates": 0.7, "bricks": 0.7,
    "sett": 0.3, "cobblestone": 0.3, "concrete:lanes": 0.3, "unpaved": 0.3,
    "wood": 0.3,
    "unhewn_cobblestone": 0.2, "ground": 0.2, "dirt": 0.2, "earth": 0.2,
    "mud": 0.2, "gravel": 0.2, "pebblestone": 0.2, "grass": 0.2,
    "grass_paver": 0.2, "stepping_stones": 0.2, "woodchips": 0.2,
    "sand": 0.15, "rock": 0.15,
}
# surface ranking, best -> worst (ref:definitions.py:119); duplicates kept to
# mirror the reference's list.index behavior (first occurrence wins)
SURFACE_QUALITY_ORDER = [
    "asphalt", "paved", "concrete", "chipseal", "metal", "paving_stones",
    "compacted", "fine_gravel", "paving_stones", "concrete:plates", "bricks",
    "sett", "cobblestone", "concrete:lanes", "unpaved", "wood",
    "unhewn_cobblestone", "ground", "dirt", "earth", "mud", "gravel",
    "pebblestone", "grass", "grass_paver", "stepping_stones", "woodchips",
    "sand", "rock",
]
SMOOTHNESS_FACTOR = {
    "excellent": 1.1, "good": 1.0, "intermediate": 0.7, "bad": 0.3,
    "very_bad": 0.2, "horrible": 0.15, "very_horrible": 0.1, "impassable": 0.0,
}
HIGHWAY_FACTOR = {
    "motorway": 0.1, "motorway_link": 0.1, "trunk": 0.15, "trunk_link": 0.15,
    "primary": 0.35, "primary_link": 0.35, "secondary": 0.65,
    "secondary_link": 0.65, "tertiary": 0.85, "tertiary_link": 0.85,
    "unclassified": 0.95, "road": 0.95, "residential": 1.0,
    "living_street": 1.1,
}
MAXSPEED_FACTOR = {20: 1.05, 30: 1.0, 50: 0.95, 60: 0.85, 70: 0.7, 100: 0.5}
HIGHWAY_FACTOR_WEIGHT = {
    "bicycle road": 1.0, "shared road": 1.0, "shared traffic lane": 1.0,
    "cycle lane (advisory)": 0.7, "cycle lane (central)": 0.7,
    "shared bus lane": 0.7, "crossing": 0.7, "link": 0.7,
    "cycle lane (exclusive)": 0.5, "cycle lane (protected)": 0.2,
    "cycle track": 0.2, "shared path": 0.2, "segregated path": 0.2,
    "shared footway": 0.2, "track or service": 0.0, "cycle path": 0.0,
}
BASE_INDEX = {
    "cycle path": 100, "cycle track": 90, "shared path": 70,
    "segregated path": 80, "shared footway": 50, "cycle lane (advisory)": 70,
    "cycle lane (exclusive)": 80, "cycle lane (protected)": 90,
    "cycle lane (central)": 60, "shared bus lane": 65, "bicycle road": 70,
    "shared road": 60, "shared traffic lane": 60, "track or service": 65,
    "link": 60, "crossing": 60,
}
MOTOR_VEHICLE_ACCESS_INDEX = {
    "no": 100, "agricultural": 90, "forestry": 90, "agricultural;forestry": 90,
    "forestry;agricultural": 90, "private": 80, "customers": 80,
    "delivery": 80, "permit": 80, "destination": 70,
}
MANDATORY_TRAFFIC_SIGNS = {"237", "240", "241"}  # ref:parameter.py:250-251
NOT_MANDATORY_TRAFFIC_SIGNS = {"none", "1022"}  # ref:parameter.py:253-254
DATA_INCOMPLETENESS_WEIGHT = {
    "width": 25, "surface": 30, "smoothness": 10, "width:lanes": 10,
    "parking": 25, "crossing": 10, "crossing_markings": 10, "maxspeed": 15,
    "lit": 15,
}
# ordered ranking used for proc_highway argmax tie-breaks
# (ref:cycling_quality_index.py:1577); None ranks last
HIGHWAY_CLASS_RANKING = [
    "motorway", "motorway_link", "trunk", "trunk_link", "primary",
    "primary_link", "secondary", "secondary_link", "tertiary",
    "tertiary_link", "unclassified", "residential", "road", "living_street",
    "service", "pedestrian", None,
]

# --- retained input tag whitelist (ref:parameter.py:270-464) ------------------
# Rebuilt from compact matrix specs instead of a flat list.
_SIDES4 = ["", "both", "left", "right"]


def _fan(base: str, subs: list[str], sides: list[str] = _SIDES4) -> list[str]:
    out = []
    for sub, side in product(subs, sides):
        mid = f":{side}" if side else ""
        out.append(f"{base}{mid}:{sub}")
    return out


def _build_tag_whitelist() -> list[str]:
    tags = [
        "id", "layer", "highway", "name", "oneway", "oneway:bicycle",
        "segregated", "tracktype", "is_sidepath", "is_sidepath:of",
        "priority_road",
        "access", "vehicle", "motor_vehicle", "bicycle", "foot",
        "bicycle_road", "footway", "path", "bridleway", "informal",
        "maxspeed", "lit", "incline",
        "surface", "surface:bicycle", "smoothness", "smoothness:bicycle",
        "lanes", "width", "width:carriageway", "width:effective",
        "width:lanes", "width:lanes:forward", "width:lanes:backward",
        "lane_markings",
        "separation", "separation:both", "separation:left", "separation:right",
        "buffer", "buffer:both", "buffer:left", "buffer:right",
        "traffic_mode:both", "traffic_mode:left", "traffic_mode:right",
        "surface:colour", "traffic_sign",
    ]
    tags += _fan("parking", ["", "orientation", "width"], ["both", "left", "right"])
    tags += _fan(
        "sidewalk",
        ["bicycle", "surface", "smoothness", "width", "oneway",
         "oneway:bicycle", "traffic_sign"],
    )
    tags += ["footway:width"]
    tags += ["cycleway", "cycleway:both", "cycleway:left", "cycleway:right"]
    tags += _fan(
        "cycleway",
        ["lane", "surface", "smoothness", "width", "oneway", "oneway:bicycle",
         "segregated", "foot"],
    )
    # separation / buffer carry their own side suffix on top of the
    # cycleway-side prefix (4 x 4 combinations each)
    tags += _fan("cycleway", ["separation", "separation:left",
                              "separation:right", "separation:both"])
    tags += _fan("cycleway", ["buffer", "buffer:left", "buffer:right",
                              "buffer:both"])
    tags += _fan("cycleway", ["traffic_mode:left", "traffic_mode:right",
                              "traffic_mode:both"])
    tags += _fan("cycleway", ["surface:colour", "traffic_sign"])
    tags += ["cycleway:lanes", "cycleway:lanes:forward",
             "cycleway:lanes:backward", "vehicle:lanes", "bus:lanes",
             "psv:lanes", "crossing", "crossing:markings"]
    # de-dup while preserving order ("parking:<side>:" fan emits a bare
    # "parking:<side>" for the empty sub)
    seen: set[str] = set()
    ordered = []
    for t in tags:
        t = t.rstrip(":")
        # the empty sub in _fan produces e.g. "parking:both:" -> "parking:both"
        if t not in seen:
            seen.add(t)
            ordered.append(t)
    return ordered


TAG_WHITELIST = _build_tag_whitelist()

# The tags Spark-side operators read (the sidepath join, its aggregates and
# the writeback).  The GeoJSONL scan makes columns of these only; every other
# requested tag rides to the rule kernel packed in one JSON-object column.
SPARK_TAG_COLUMNS = ("id", "highway", "name", "maxspeed", "layer", "footway",
                     "is_sidepath", "is_sidepath:of")

# --- derived (engine-written) columns (ref:cycling_quality_index.py:52-107) ---
DERIVED_COLUMNS = {
    "way_type": "str", "index": "int", "index_10": "int",
    "stress_level": "int", "offset": "float",
    "offset_cycleway_left": "float", "offset_cycleway_right": "float",
    "offset_sidewalk_left": "float", "offset_sidewalk_right": "float",
    "type": "str", "side": "str",
    "proc_width": "float", "proc_surface": "str", "proc_smoothness": "str",
    "proc_oneway": "str", "proc_sidepath": "str", "proc_highway": "str",
    "proc_maxspeed": "int",
    "proc_traffic_mode_left": "str", "proc_traffic_mode_right": "str",
    "proc_separation_left": "str", "proc_separation_right": "str",
    "proc_buffer_left": "float", "proc_buffer_right": "float",
    "proc_mandatory": "str", "proc_traffic_sign": "str",
    "fac_width": "float", "fac_surface": "float", "fac_highway": "float",
    "fac_maxspeed": "float",
    "base_index": "int", "fac_1": "float", "fac_2": "float",
    "fac_3": "float", "fac_4": "float",
    "data_bonus": "str", "data_malus": "str", "data_incompleteness": "float",
    "data_missing": "str",
    "filter_usable": "int", "filter_way_type": "str",
}

# Output contract: the golden file's 38 property columns
# (ref:data/test_ways/test_ways_alex.geojson)
OUTPUT_COLUMNS = [
    "id", "name", "way_type", "index", "index_10", "stress_level", "side",
    "offset", "proc_width", "proc_surface", "proc_smoothness", "proc_oneway",
    "proc_sidepath", "proc_highway", "proc_maxspeed",
    "proc_traffic_mode_left", "proc_traffic_mode_right",
    "proc_separation_left", "proc_separation_right",
    "proc_buffer_left", "proc_buffer_right", "proc_mandatory",
    "proc_traffic_sign", "fac_width", "fac_surface", "fac_highway",
    "fac_maxspeed", "base_index", "fac_1", "fac_2", "fac_3", "fac_4",
    "data_bonus", "data_malus", "data_incompleteness", "data_missing",
    "filter_usable", "filter_way_type",
]

PATH_HIGHWAYS = ["cycleway", "footway", "path", "bridleway", "steps"]
ROAD_EXCLUDED_HIGHWAYS = PATH_HIGHWAYS + ["track"]
