"""AIS enum code tables as broadcast dimension DataFrames (P22/J4).

The reference bakes description strings into every decoded dict via Python
Enum lookups with per-field clamping (ais_parser.py:38,98,123,202,206,210,
591,615,660,693; tables in ais_message_type.py, ais_shiptype.py,
ais_navigation_status.py, ais_epfd.py, ais_aid_type.py, ais_beaufortscale.py,
ais_precipitation.py, ais_common_indicator.py, ais_comm_state.py). These are
ITU-R M.1371 code tables — factual reference data.

Spark-first: each table is a tiny dimension joined by (clamped) code with a
broadcast hash join — the decode output stays numeric and compact, and the
description attach is a zero-shuffle enrichment that Catalyst can prune away
entirely when the query never reads the description column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MESSAGE_TYPE = {
    1: "Position Report Class A",
    2: "Assigned schedule Position Report Class A",
    3: "Response to interrogation Position Report Class A",
    4: "Base Station Report",
    5: "Static and Voyage Related Data",
    6: "Binary Addressed Message",
    7: "Binary Acknowledge",
    8: "Binary Broadcast Message",
    9: "Standard SAR Aircraft Position Report",
    10: "UTC and Date Inquiry",
    11: "UTC and Date Response",
    12: "Addressed Safety Related Message",
    13: "Safety Related Acknowledgement",
    14: "Safety Related Broadcast Message",
    15: "Interrogation",
    16: "Assignment Mode Command",
    17: "DGNSS Binary Broadcast Message",
    18: "Standard Class B CS Position Report",
    19: "Extended Class B Equipment Position Report",
    20: "Data Link Management",
    21: "Aid to Navigation Report",
    22: "Channel Management",
    23: "Group Assignment Command",
    24: "Static Data Report",
    25: "Single Slot Binary Message",
    26: "Multiple Slot Binary Message With Communications State",
    27: "Position Report For Long Range Applications",
}

NAV_STATUS = {
    0: "Under way using engine",
    1: "At anchor",
    2: "Not under command",
    3: "Restricted manoeuverability",
    4: "Constrained by her draught",
    5: "Moored",
    6: "Aground",
    7: "Engaged in Fishing",
    8: "Under way sailing",
    9: "Reserved for future amendment of Navigational Status for HSC",
    10: "Reserved for future amendment of Navigational Status for WIG",
    11: "Power driven vessel towing astern on regional use",
    12: "Power driven vessel pushing ahead or towing alongside regional use",
    13: "Reserved for future use",
    14: "AIS SART is active",
    15: "Undefined or default",
}

EPFD = {
    0: "Undefined default",
    1: "GPS",
    2: "GLONASS",
    3: "Combined GPS and GLONASS",
    4: "Loran C",
    5: "Chayka",
    6: "Integrated navigation system",
    7: "Surveyed",
    8: "Galileo",
    9: "Reserved 1",
    10: "Reserved 2",
    11: "Reserved 3",
    12: "Reserved 4",
    13: "Reserved 5",
    14: "Reserved 6",
    15: "Internal GNSS",
}


def _ship_type_table() -> dict[int, str]:
    t = {
        0: "Not available",
        30: "Fishing",
        31: "Towing",
        32: "Towing length exceeds 200m or breadth exceeds 25m",
        33: "Dredging or underwater ops",
        34: "Diving ops",
        35: "Military ops",
        36: "Sailing",
        37: "Pleasure Craft",
        38: "Reserved 1",
        39: "Reserved 2",
        50: "Pilot Vessel",
        51: "Search and Rescue vessel",
        52: "Tug",
        53: "Port Tender",
        54: "Anti pollution equipment",
        55: "Law Enforcement",
        56: "Spare Local Vessel 1",
        57: "Spare Local Vessel 2",
        58: "Medical Transport",
        59: "Noncombatant ship according to RR Resolution No 18",
    }
    for i in range(1, 20):
        t[i] = f"Reserved for future use {i}"
    groups = {
        20: ("Wing in ground WIG", "Reserved for future use"),
        40: ("High speed craft HSC", "Reserved for future use"),
        60: ("Passenger", "Reserved for future use"),
        70: ("Cargo", "Reserved for future use"),
        80: ("Tanker", "Reserved for future use"),
        90: ("Other type", "Reserved for future use"),
    }
    for base, (prefix, reserved) in groups.items():
        t[base] = f"{prefix} all ships of this type"
        for i, hz in enumerate("ABCD"):
            t[base + 1 + i] = f"{prefix} Hazardous category {hz}"
        for i in range(1, 5):
            t[base + 4 + i] = f"{prefix} {reserved} {i}"
        t[base + 9] = f"{prefix} No additional information"
    # type 2x/4x reserved slots keep the WIG/HSC naming quirks of the table
    for i in range(1, 6):
        t[24 + i] = f"Wing in ground WIG Reserved for future use {i}"
    for i in range(1, 5):
        t[44 + i] = f"High speed craft HSC Reserved for future use {i}"
    t[49] = "High speed craft HSC No additional information"
    return t


SHIP_TYPE = _ship_type_table()

AID_TYPE = {
    0: "Default or Type of Aid to Navigation not specified",
    1: "Reference point",
    2: "RACON radar transponder marking a navigation hazard",
    3: "Fixed structure off shore",
    4: "Reserved for future use",
    5: "Light without sectors",
    6: "Light with sectors",
    7: "Leading Light Front",
    8: "Leading Light Rear",
    9: "Beacon Cardinal N",
    10: "Beacon Cardinal E",
    11: "Beacon Cardinal S",
    12: "Beacon Cardinal W",
    13: "Beacon Port hand",
    14: "Beacon Starboard hand",
    15: "Beacon Preferred Channel port hand",
    16: "Beacon Preferred Channel starboard hand",
    17: "Beacon Isolated danger",
    18: "Beacon Safe water",
    19: "Beacon Special mark",
    20: "Cardinal Mark N",
    21: "Cardinal Mark E",
    22: "Cardinal Mark S",
    23: "Cardinal Mark W",
    24: "Port hand Mark",
    25: "Starboard hand Mark",
    26: "Preferred Channel Port hand",
    27: "Preferred Channel Starboard hand",
    28: "Isolated danger",
    29: "Safe Water",
    30: "Special Mark",
    31: "Light Vessel LANBY Rigs",
}

BEAUFORT = {
    0: "Flat",
    1: "Ripples without crests",
    2: "Small wavelets",
    3: "Large wavelets",
    4: "Small waves",
    5: "Moderate longer waves",
    6: "Large waves with foam crests and some spray",
    7: "Sea heaps up and foam begins to streak",
    8: "Moderately high waves with breaking crests forming spindrift",
    9: "High waves with dense foam",
    10: "Very high waves",
    11: "Exceptionally high wavesm",
    12: "Huge waves",
    13: "Not available",
    14: "spare 1",
    15: "spare 2",
}

PRECIPITATION = {
    0: "reserved",
    1: "rain",
    2: "thunderstorm",
    3: "freezing rain",
    4: "mixed ice",
    5: "snow",
    6: "reserve",
    7: "not available or default",
}

COMMON_INDICATOR = {0: "steady", 1: "decreasing", 2: "increasing", 3: "not available"}
COMMON_INDICATOR_YESNO = {0: "no", 1: "yes", 2: "unknown", 3: "not available"}
SYNC_STATE = {0: "UTC direct", 1: "UTC indirect", 2: "Base direct", 3: "Base indirect"}
SLOT_TIMEOUT = {
    0: "This was the last transmission in this slot",
    1: "frames are left until slot change",
}

# name -> (max in-range code, out-of-range fallback code) reproducing the
# reference's clamping (ais_parser.py:38,123,615,202,...); None = no clamp.
# Single source for BOTH the pyspark clamp expression and the SQL oracle's
# CASE mirror (clamp_sql).
CLAMPS: dict[str, tuple[int, int] | None] = {
    "message_type": None,
    "nav_status": (15, 15),
    "ship_type": (99, 99),
    "epfd": (15, 0),
    "aid_type": (31, 0),
    "beaufort": (15, 13),
    "precipitation": (7, 7),
    "common_indicator": (3, 3),
    "common_indicator_yesno": (3, 3),
    "sync_state": (3, 0),
    "slot_timeout": (1, 1),
}


def _clamp_fn(spec: tuple[int, int] | None):
    if spec is None:
        return lambda c: c
    thr, fb = spec
    return lambda c: F.when(c <= thr, c).otherwise(F.lit(fb))


def clamp_sql(name: str, code_expr: str) -> str:
    """The clamp as an ANSI-SQL expression (oracle mirror of the pyspark
    clamp built from the same CLAMPS entry)."""
    spec = CLAMPS[name]
    if spec is None:
        return code_expr
    thr, fb = spec
    return f"(CASE WHEN {code_expr} <= {thr} THEN {code_expr} ELSE {fb} END)"


def lookup_sql(name: str, code_expr: str) -> str:
    """The full description lookup (clamp + code->name mapping) as an
    ANSI-SQL CASE chain generated from the SAME table dict the Spark side
    uses — the oracle for P22/J4."""
    table, _ = ENUMS[name]
    c = clamp_sql(name, code_expr)
    arms = " ".join(
        f"WHEN {k} THEN '" + v.replace("'", "''") + "'" for k, v in sorted(table.items())
    )
    return f"(CASE {c} {arms} ELSE NULL END)"


# name -> (table, clamp)
ENUMS: dict[str, tuple[dict[int, str], object]] = {
    name: (table, _clamp_fn(CLAMPS[name]))
    for name, table in {
        "message_type": MESSAGE_TYPE,
        "nav_status": NAV_STATUS,
        "ship_type": SHIP_TYPE,
        "epfd": EPFD,
        "aid_type": AID_TYPE,
        "beaufort": BEAUFORT,
        "precipitation": PRECIPITATION,
        "common_indicator": COMMON_INDICATOR,
        "common_indicator_yesno": COMMON_INDICATOR_YESNO,
        "sync_state": SYNC_STATE,
        "slot_timeout": SLOT_TIMEOUT,
    }.items()
}


def enum_df(spark: SparkSession, name: str) -> DataFrame:
    """The enum as a (code, name) dimension DataFrame."""
    table, _ = ENUMS[name]
    return spark.createDataFrame(
        [(int(k), v) for k, v in sorted(table.items())], "code INT, name STRING"
    )


def lookup(code: Column, name: str) -> Column:
    """Scalar description lookup as a pure column expression (chained when);
    for wide enums prefer :func:`attach_enum`'s broadcast join."""
    table, clamp = ENUMS[name]
    c = clamp(code)
    expr = F.lit(None).cast("string")
    for k, v in sorted(table.items(), reverse=True):
        expr = F.when(c == k, F.lit(v)).otherwise(expr)
    return expr


WEATHER_DESCS: tuple[tuple[str, str, str], ...] = (
    # (code column in the weather struct, enum table, output column) —
    # the desc fields the reference bakes into DAC1/FID31 decode
    # (ais_parser.py:186-221).
    ("airPressureTendency", "common_indicator", "airPressureTendencyDesc"),
    ("waterLevelTrend", "common_indicator", "waterLevelTrendDesc"),
    ("seaState", "beaufort", "seaStateDesc"),
    ("precipitation", "precipitation", "precipitationDesc"),
    ("ice", "common_indicator_yesno", "iceDesc"),
)


def attach_enum(
    df: DataFrame,
    spark: SparkSession,
    code_col: str,
    enum_name: str,
    out_col: str,
) -> DataFrame:
    """Broadcast-join the description onto ``df`` (left join: unknown codes
    keep null descriptions after clamping)."""
    _, clamp = ENUMS[enum_name]
    dim = F.broadcast(
        enum_df(spark, enum_name)
        .withColumnRenamed("code", f"__{enum_name}_code")
        .withColumnRenamed("name", out_col)
    )
    keyed = df.withColumn("__clamped", clamp(F.col(code_col)).cast("int"))
    return keyed.join(
        dim, keyed["__clamped"] == dim[f"__{enum_name}_code"], "left"
    ).drop("__clamped", f"__{enum_name}_code")
