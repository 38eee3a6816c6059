"""Numpy-vectorized Arrow decode kernel: the per-batch fast path behind
``decode_udf`` (§2.9).

Instead of a per-row Python loop (Bits.from_payload + family dict per
message), each Arrow batch becomes ONE char-code matrix: payloads are
concatenated, viewed as a uint8 array, de-armored with two vectorized
compares, and fields are extracted with a handful of int64 shifts over
column slices. Covered: position 1/2/3, base station 4/11, binary 6/8
(including every vendor sub-decoder, selected per (dac, fid) fork mask),
SAR 9, static&voyage 5, class B 18/19, AtoN 21, static report 24 (part A/B
and mothership forks), long-range 27. Remaining families (7/10/12-17/20/
22/23/25/26 — rare in real feeds) and malformed rows (invalid armoring
chars, absurd lengths) fall back to the scalar ``decode_payload`` row
loop, which stays the single source of truth for semantics —
``tests/test_decode.py::test_vectorized_matches_scalar`` pins batch ==
scalar on the golden corpus and a corruption gauntlet.

The same spec table also generates the catalog's SQL decode:
``kernel.decode_sql`` turns a (family, field) of ``VEC_ENTRIES`` into a
Spark or DuckDB expression (fork masks included), which the decode twins
q31-q34, q49, q94 and q95 and their oracles are built from.

Bit semantics mirror ``functions.nmea.Bits`` exactly, including the
clamped-read behavior for short payloads: the matrix is zero-padded, so the
padded value equals the Python value left-shifted by the number of missing
bits — one extra per-row right shift restores it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pincspark.functions.nmea import NOT_AVAILABLE

U, I, TEXT, TAIL = "u", "i", "text", "tail"
TEXTV = "textv"  # 6-bit text running to the payload end (b.text(s, nbits-s))
TEXTE = "texte"  # like TEXTV but None when fewer than 6 bits remain (aton)
OPT = "opt"  # reference's guarded-optional trailing field: 0 when absent

# Spec tuple: (field, kind, start, length, extra). extra is a transform
# ("div", x) / ("mul", x) for U/I, the min-total-bits guard for OPT, else
# None. TAIL/TEXTV/TEXTE have no static length.
_POSITION_COMMON_RADIO = [
    ("raimFlag", U, 148, 1, None),
    ("radioStatus", U, 149, 19, None),
    ("syncState", U, 149, 2, None),
    ("slotTimeout", U, 151, 3, None),
    ("subMessage", TAIL, 154, None, None),
]

_TYPE6_BASE = [
    ("seqno", U, 38, 2, None),
    ("dest_mmsi", U, 40, 30, None),
    ("retransmit", U, 70, 1, None),
    ("dac", U, 72, 10, None),
    ("fid", U, 82, 6, None),
]

_VOLT3_10BIT = [
    ("volt_int", U, 88, 10, ("mul", 0.05)),
    ("volt_ex1", U, 98, 10, ("mul", 0.05)),
    ("volt_ex2", U, 108, 10, ("mul", 0.05)),
]


def _dacfid6(dac: int, fid: int):
    return lambda u: (u(72, 10) == dac) & (u(82, 6) == fid)


def _dacfid8(dac: int, fid: int):
    return lambda u: (u(40, 10) == dac) & (u(50, 6) == fid)


# One entry per (family, fork): (family, message types, max payload chars
# for the vector path, extra row mask (over bit-field reads) or None, specs).
# Forked families (6/8/24) appear multiple times so each fork emits EXACTLY
# the scalar decoder's key set.
VEC_ENTRIES: list[tuple] = [
    (
        "position",
        (1, 2, 3),
        32,
        None,
        [
            ("navStatus", U, 38, 4, None),
            ("rot", "rot", 42, 8, None),
            ("sog", U, 50, 10, ("div", 10.0)),
            ("positionAccuracy", U, 60, 1, None),
            ("longitude", I, 61, 28, ("div", 600000.0)),
            ("latitude", I, 89, 27, ("div", 600000.0)),
            ("cog", U, 116, 12, ("div", 10.0)),
            ("trueHeading", U, 128, 9, None),
            ("timeStamp", U, 137, 6, None),
            ("manoeuvre", U, 143, 2, None),
            *_POSITION_COMMON_RADIO,
        ],
    ),
    (
        "base_station",
        (4, 11),
        32,
        None,
        [
            ("utc_year", U, 38, 14, None),
            ("utc_month", U, 52, 4, None),
            ("utc_day", U, 56, 5, None),
            ("utc_hour", U, 61, 5, None),
            ("utc_minute", U, 66, 6, None),
            ("utc_second", U, 72, 6, None),
            ("positionAccuracy", U, 78, 1, None),
            ("longitude", I, 79, 28, ("div", 600000.0)),
            ("latitude", I, 107, 27, ("div", 600000.0)),
            ("epfd", U, 134, 4, None),
            *_POSITION_COMMON_RADIO,
        ],
    ),
    (
        "sar_aircraft",
        (9,),
        32,
        None,
        [
            ("altitude", U, 38, 12, None),
            ("sog", U, 50, 10, ("div", 10.0)),
            ("positionAccuracy", U, 60, 1, None),
            ("longitude", I, 61, 28, ("div", 600000.0)),
            ("latitude", I, 89, 27, ("div", 600000.0)),
            ("cog", U, 116, 12, ("div", 10.0)),
            ("timeStamp", U, 128, 6, None),
            ("regional", U, 134, 8, None),
            ("dte", U, 142, 1, None),
            ("assigned", U, 146, 1, None),
            ("raimFlag", U, 147, 1, None),
            ("radioStatus", U, 148, 20, None),
            ("syncState", U, 148, 2, None),
            ("slotTimeout", U, 150, 3, None),
            ("subMessage", TAIL, 153, None, None),
        ],
    ),
    (
        "static_voyage",
        (5,),
        80,
        None,
        [
            ("aisVersion", U, 38, 2, None),
            ("imo", U, 40, 30, None),
            ("callsign", TEXT, 70, 42, None),
            ("shipName", TEXT, 112, 120, None),
            ("shipType", U, 232, 8, None),
            ("to_bow", U, 240, 9, None),
            ("to_stern", U, 249, 9, None),
            ("to_port", U, 258, 6, None),
            ("to_starboard", U, 264, 6, None),
            ("epfd", U, 270, 4, None),
            ("eta_month", U, 274, 4, None),
            ("eta_day", U, 278, 5, None),
            ("eta_hour", U, 283, 5, None),
            ("eta_minute", U, 288, 6, None),
            ("draught", U, 294, 8, ("div", 10.0)),
            ("destination", TEXT, 302, 120, None),
            ("dte", U, 422, 1, None),
        ],
    ),
    (
        "classb",
        (18,),
        80,
        None,
        [
            ("reserved", U, 38, 8, None),
            ("sog", U, 46, 10, ("div", 10.0)),
            ("positionAccuracy", U, 56, 1, None),
            ("longitude", I, 57, 28, ("div", 600000.0)),
            ("latitude", I, 85, 27, ("div", 600000.0)),
            ("cog", U, 112, 12, ("div", 10.0)),
            ("trueHeading", U, 124, 9, None),
            ("timeStamp", U, 133, 6, None),
            ("regional", U, 139, 2, None),
            ("cs", U, 141, 1, None),
            ("display", U, 142, 1, None),
            ("dsc", U, 143, 1, None),
            ("band", U, 144, 1, None),
            ("msg22", U, 145, 1, None),
            ("assigned", U, 146, 1, None),
            ("raimFlag", U, 147, 1, None),
            ("radioStatus", U, 148, 20, None),
        ],
    ),
    (
        "classb_ext",
        (19,),
        80,
        None,
        [
            ("reserved", U, 38, 8, None),
            ("sog", U, 46, 10, ("div", 10.0)),
            ("positionAccuracy", U, 56, 1, None),
            ("longitude", I, 57, 28, ("div", 600000.0)),
            ("latitude", I, 85, 27, ("div", 600000.0)),
            ("cog", U, 112, 12, ("div", 10.0)),
            ("trueHeading", U, 124, 9, None),
            ("timeStamp", U, 133, 6, None),
            ("regional", U, 139, 4, None),
            ("shipName", TEXT, 143, 120, None),
            ("shipType", U, 263, 8, None),
            ("to_bow", U, 271, 9, None),
            ("to_stern", U, 280, 9, None),
            ("to_port", U, 289, 6, None),
            ("to_starboard", U, 295, 6, None),
            ("epfd", U, 301, 4, None),
            ("raimFlag", U, 305, 1, None),
            ("dte", U, 306, 1, None),
            ("assigned", U, 307, 1, None),
        ],
    ),
    (
        "aton",
        (21,),
        80,
        None,
        [
            ("aidType", U, 38, 5, None),
            ("aidName", TEXT, 43, 120, None),
            ("positionAccuracy", U, 163, 1, None),
            ("longitude", I, 164, 28, ("div", 600000.0)),
            ("latitude", I, 192, 27, ("div", 600000.0)),
            ("to_bow", U, 219, 9, None),
            ("to_stern", U, 228, 9, None),
            ("to_port", U, 237, 6, None),
            ("to_starboard", U, 243, 6, None),
            ("epfd", U, 249, 4, None),
            ("utc_second", U, 253, 6, None),
            ("off_position", U, 259, 1, None),
            ("regional", U, 260, 8, None),
            ("raimFlag", U, 268, 1, None),
            ("virtualAid", U, 269, 1, None),
            ("assigned", U, 270, 1, None),
            ("ext_name", TEXTE, 272, None, None),
        ],
    ),
    (
        "long_range",
        (27,),
        80,
        None,
        [
            ("positionAccuracy", U, 38, 1, None),
            ("raimFlag", U, 39, 1, None),
            ("navStatus", U, 40, 4, None),
            ("longitude", I, 44, 18, ("div", 600000.0)),
            ("latitude", I, 62, 17, ("div", 600000.0)),
            ("sog", U, 79, 6, ("div", 10.0)),
            ("cog", U, 85, 9, ("div", 10.0)),
            ("gnss", U, 94, 1, None),
        ],
    ),
    # --- type 24 static report: part A / part B(dims) / part B(mothership)
    (
        "static_report",
        (24,),
        80,
        lambda u: u(38, 2) == 0,
        [("partNo", U, 38, 2, None), ("shipName", TEXT, 40, 120, None)],
    ),
    (
        "static_report",
        (24,),
        80,
        lambda u: (u(38, 2) != 0) & (u(8, 30) != 0),
        [
            ("partNo", U, 38, 2, None),
            ("shipType", U, 40, 8, None),
            ("vendor", TEXT, 48, 18, None),
            ("model", U, 66, 4, None),
            ("serial", U, 70, 20, None),
            ("callsign", TEXT, 90, 42, None),
            ("to_bow", U, 132, 9, None),
            ("to_stern", U, 141, 9, None),
            ("to_port", U, 150, 6, None),
            ("to_starboard", U, 156, 6, None),
        ],
    ),
    (
        "static_report",
        (24,),
        80,
        lambda u: (u(38, 2) != 0) & (u(8, 30) == 0),
        [
            ("partNo", U, 38, 2, None),
            ("shipType", U, 40, 8, None),
            ("vendor", TEXT, 48, 18, None),
            ("model", U, 66, 4, None),
            ("serial", U, 70, 20, None),
            ("callsign", TEXT, 90, 42, None),
            ("motherShip_mmsi", U, 132, 30, None),
        ],
    ),
    # --- type 8 binary broadcast: generic / DAC1 FID29 text / DAC1 FID31 wx
    (
        "bin_broadcast",
        (8,),
        80,
        lambda u: ~((u(40, 10) == 1) & ((u(50, 6) == 29) | (u(50, 6) == 31))),
        [("dac", U, 40, 10, None), ("fid", U, 50, 6, None)],
    ),
    (
        "bin_broadcast",
        (8,),
        80,
        _dacfid8(1, 29),
        [
            ("dac", U, 40, 10, None),
            ("fid", U, 50, 6, None),
            ("linkId", U, 56, 10, None),
            ("text", TEXTV, 66, None, None),
        ],
    ),
    (
        "bin_broadcast",
        (8,),
        80,
        _dacfid8(1, 31),
        [
            ("dac", U, 40, 10, None),
            ("fid", U, 50, 6, None),
            ("longitude", I, 56, 25, ("div", 60000.0)),
            ("latitude", I, 81, 24, ("div", 60000.0)),
            ("positionAccuracy", U, 105, 1, None),
            ("utc_day", U, 106, 5, None),
            ("utc_hour", U, 111, 5, None),
            ("utc_minute", U, 116, 6, None),
            ("avgWindSpeed", I, 122, 7, None),
            ("windGust", I, 129, 7, None),
            ("windDirection", U, 136, 9, None),
            ("windGustDirection", U, 145, 9, None),
            ("airTemperature", I, 154, 11, None),
            ("relativeHumidity", U, 165, 7, None),
            ("dewpoint", I, 172, 10, None),
            ("airPressure", U, 182, 9, None),
            ("airPressureTendency", U, 191, 2, None),
            ("horizontalVisibility", U, 193, 8, None),
            ("waterLevel", U, 201, 12, None),
            ("waterLevelTrend", U, 213, 2, None),
            ("surfaceCurrentSpeed", U, 215, 8, None),
            ("surfaceCurrentDirection", U, 223, 9, None),
            ("surfaceCurrentSpeed_2", U, 232, 8, None),
            ("surfaceCurrentDirection_2", U, 240, 9, None),
            ("CurrentMeasureLevel_2", U, 249, 5, None),
            ("surfaceCurrentSpeed_3", U, 254, 8, None),
            ("surfaceCurrentDirection_3", U, 262, 9, None),
            ("CurrentMeasureLevel_3", U, 271, 5, None),
            ("significantWaveHeight", U, 276, 8, None),
            ("wavePeriod", U, 284, 6, None),
            ("waveDirection", U, 290, 9, None),
            ("swellHeight", U, 299, 8, None),
            ("swellPeriod", U, 307, 6, None),
            ("swellDirection", U, 313, 9, None),
            ("seaState", U, 322, 4, None),
            ("waterTemperature", U, 326, 10, None),
            ("precipitation", U, 336, 3, None),
            ("salinity", U, 339, 9, None),
            ("ice", U, 348, 2, None),
        ],
    ),
    # --- type 6 addressed binary: generic + the 5 vendor sub-decoders
    (
        "bin_addressed",
        (6,),
        80,
        lambda u: ~(
            ((u(72, 10) == 133) & (u(82, 6) == 13))
            | ((u(72, 10) == 250) & (u(82, 6) == 10))
            | ((u(72, 10) == 533) & ((u(82, 6) == 1) | (u(82, 6) == 2) | (u(82, 6) == 4)))
            | ((u(72, 10) == 235) & (u(82, 6) == 10))
        ),
        _TYPE6_BASE,
    ),
    (
        "bin_addressed",
        (6,),
        80,
        _dacfid6(133, 13),
        [
            *_TYPE6_BASE,
            ("empty", U, 88, 9, ("mul", 20)),
            ("full", U, 97, 9, ("mul", 20)),
            ("actual", U, 106, 9, ("mul", 20)),
            ("supply", U, 115, 1, None),
            ("half", U, 116, 1, None),
            ("case_cover", U, 117, 1, None),
            ("battery", U, 118, 9, ("mul", 0.05)),
            ("sonar", OPT, 127, 2, 129),
            ("hoppers", OPT, 129, 4, 133),
            *[(f"hopper{i}", OPT, 132 + i, 1, 133 + i) for i in range(1, 9)],
        ],
    ),
    (
        "bin_addressed",
        (6,),
        80,
        _dacfid6(250, 10),
        [
            *_TYPE6_BASE,
            *_VOLT3_10BIT,
            ("racon", U, 118, 2, None),
            ("light", U, 120, 2, None),
            ("health", U, 122, 1, None),
            *[(f"stat_ext{7 - i}", OPT, 123 + i, 1, 124 + i) for i in range(8)],
            ("off_pos", OPT, 131, 1, 132),
        ],
    ),
    (
        "bin_addressed",
        (6,),
        80,
        lambda u: ((u(72, 10) == 533) & (u(82, 6) == 1))
        | ((u(72, 10) == 235) & (u(82, 6) == 10)),
        [
            *_TYPE6_BASE,
            *_VOLT3_10BIT,
            ("racon", OPT, 118, 2, 120),
            ("light", OPT, 120, 2, 122),
            ("health", OPT, 122, 1, 123),
            ("beat", OPT, 123, 1, 124),
            ("lantern_batt", OPT, 124, 2, 126),
            ("lantern", OPT, 126, 2, 128),
            ("ambient", OPT, 128, 2, 130),
            ("hatch_door", OPT, 130, 1, 131),
            ("off_pos", OPT, 131, 1, 132),
        ],
    ),
    (
        "bin_addressed",
        (6,),
        80,
        _dacfid6(533, 2),
        [
            *_TYPE6_BASE,
            ("volt_int", U, 88, 9, ("mul", 0.1)),
            ("volt_ex1", U, 97, 9, ("mul", 0.1)),
            ("volt_ex2", U, 106, 9, ("mul", 0.1)),
            ("off_pos", OPT, 115, 1, 116),
            ("ambient", OPT, 116, 2, 118),
            ("racon", OPT, 118, 2, 120),
            ("light", OPT, 120, 2, 122),
            ("health", OPT, 122, 1, 123),
            ("beat", OPT, 123, 1, 124),
            ("main_lantern_cond", OPT, 124, 1, 125),
            ("main_lantern_stat", OPT, 125, 1, 126),
            ("stdby_lantern_cond", OPT, 126, 1, 127),
            ("stdby_lantern_stat", OPT, 127, 1, 128),
            ("emerg_lantern_cond", OPT, 128, 1, 129),
            ("emerg_lantern_stat", OPT, 129, 1, 130),
            ("opticA_drive_stat", OPT, 130, 1, 131),
            ("opticA_drive_cond", OPT, 131, 1, 132),
            ("opticB_drive_stat", OPT, 132, 1, 133),
            ("opticB_drive_cond", OPT, 133, 1, 134),
            ("hatch_door", OPT, 134, 1, 135),
            ("main_power", OPT, 135, 1, 136),
            ("bms_cond", OPT, 136, 1, 137),
        ],
    ),
    (
        "bin_addressed",
        (6,),
        80,
        _dacfid6(533, 4),
        [
            *_TYPE6_BASE,
            ("volt_int", U, 88, 9, ("mul", 0.05)),
            ("volt_ex1", U, 97, 9, ("mul", 0.05)),
            ("volt_ex2", U, 106, 9, ("mul", 0.2)),
            ("off_pos", OPT, 115, 1, 116),
            ("ambient", OPT, 116, 2, 118),
            ("racon", OPT, 118, 2, 120),
            ("light", OPT, 120, 2, 122),
            ("health", OPT, 122, 1, 123),
            ("beat", OPT, 123, 1, 124),
            ("alarm_active", OPT, 124, 1, 125),
            ("buoy_led_power", OPT, 125, 1, 126),
            ("buoy_low_vin", OPT, 126, 1, 127),
            ("buoy_photocell", OPT, 127, 1, 128),
            ("buoy_temp", OPT, 128, 1, 129),
            ("buoy_force_off", OPT, 129, 1, 130),
            ("buoy_islight", OPT, 130, 1, 131),
            ("buoy_errled_short", OPT, 131, 1, 132),
            ("buoy_errled_open", OPT, 132, 1, 133),
            ("buoy_errled_voltlow", OPT, 133, 1, 134),
            ("buoy_errled_vinlow", OPT, 134, 1, 135),
            ("buoy_errled_power", OPT, 135, 1, 136),
            ("buoy_adjmaxpower", OPT, 136, 1, 137),
            ("buoy_sensor_interrupt", OPT, 137, 1, 138),
            ("buoy_solarcharging", OPT, 138, 1, 139),
        ],
    ),
]


def _payload_matrix(payloads: list[str]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(V, lens, char_ok): V[r, i] = 6-bit value of char i of payload r
    (0 beyond the payload end), lens = char counts, char_ok = every char in
    the armoring alphabet (Bits.from_payload raises otherwise)."""
    n = len(payloads)
    # non-ascii payloads can't be armored (Bits.from_payload raises) and
    # would break the 1-char-per-byte matrix alignment -> scalar fallback
    ascii_ok = np.fromiter((p.isascii() for p in payloads), dtype=bool, count=n)
    lens = np.fromiter((len(p) for p in payloads), dtype=np.int64, count=n)
    maxc = int(lens.max()) if n else 0
    V = np.zeros((n, max(maxc, 1)), dtype=np.int64)
    joined = "".join(payloads).encode("latin-1", errors="replace")
    flat = np.frombuffer(joined, dtype=np.uint8).astype(np.int64)
    in_len = np.arange(V.shape[1])[None, :] < lens[:, None]
    V[in_len] = flat
    # armoring alphabet: '0'..'W' (48..87) -> 0..39, '`'..'w' (96..119) -> 40..63
    raw = V
    valid = ((raw >= 48) & (raw <= 87)) | ((raw >= 96) & (raw <= 119))
    char_ok = np.all(valid | ~in_len, axis=1) & ascii_ok
    V = raw - 48
    V[V > 40] -= 8
    V[~in_len] = 0
    return V, lens, char_ok


def _vec_u(V: np.ndarray, bits: np.ndarray, start: int, length: int) -> np.ndarray:
    """Bits.u over the matrix: zero-padded fold, then the per-row clamp
    shift (missing low bits were read as zeros -> shift them back out)."""
    i0, i1 = start // 6, (start + length - 1) // 6
    acc = np.zeros(V.shape[0], dtype=np.int64)
    for i in range(i0, i1 + 1):
        col = V[:, i] if i < V.shape[1] else 0
        acc = acc * 64 + col
    shift = (i1 + 1) * 6 - (start + length)
    val = (acc >> shift) & ((1 << length) - 1)
    extra = np.clip(start + length - bits, 0, 63)
    return val >> extra


def _vec_i(V: np.ndarray, bits: np.ndarray, start: int, length: int) -> np.ndarray:
    """Bits.i: sign bit sits at the CLAMPED width (eff-1), like the scalar."""
    raw = _vec_u(V, bits, start, length)
    eff = np.clip(bits - start, 0, length)
    safe = np.maximum(eff, 1)
    neg = ((raw >> (safe - 1)) & 1).astype(bool) & (eff > 0)
    return np.where(neg, raw - (np.int64(1) << safe), raw)


def _vec_tail(V: np.ndarray, bits: np.ndarray, start: int) -> np.ndarray:
    """Bits.tail_u: all bits from start to the per-row payload end. Only
    called for rows whose length cap keeps the fold within int64."""
    maxc = V.shape[1]
    acc = np.zeros(V.shape[0], dtype=np.int64)
    for i in range(start // 6, maxc):
        acc = acc * 64 + V[:, i]
    # padded fold covers [6*(start//6), 6*maxc); drop pad bits then mask
    pad = 6 * maxc - bits
    val = acc >> np.clip(pad, 0, 63)
    width = np.clip(bits - start, 0, 63)
    return np.where(width > 0, val & ((np.int64(1) << width) - 1), 0)


def _vec_text(V: np.ndarray, bits: np.ndarray, start: int, length: int) -> np.ndarray:
    """Bits.text: 6-bit groups -> chars (codes < 32 shift into '@'..'_'),
    truncate at first '@', strip, empty -> NOT_AVAILABLE. Groups past the
    payload end vanish (the scalar loop's `while pos+6 <= end`)."""
    k = length // 6
    codes = np.empty((V.shape[0], k), dtype=np.int64)
    for j in range(k):
        codes[:, j] = _vec_u(V, bits, start + 6 * j, 6)
    mapped = (codes + 64 * (codes < 32)).astype(np.uint8)
    present = (start + 6 * (np.arange(k)[None, :] + 1)) <= bits[:, None]
    out = np.empty(V.shape[0], dtype=object)
    for r in range(V.shape[0]):
        s = bytes(mapped[r][present[r]]).decode("ascii")
        at = s.find("@")
        if at != -1:
            s = s[:at]
        s = s.strip()
        out[r] = s if s else NOT_AVAILABLE
    return out


def _apply(v: np.ndarray, trans) -> np.ndarray:
    if trans is None:
        return v
    op, x = trans
    return v / x if op == "div" else v * x


def _decode_family(V: np.ndarray, bits: np.ndarray, specs: list) -> dict[str, np.ndarray]:
    out: dict[str, np.ndarray] = {}
    max_bits = 6 * V.shape[1]
    for name, kind, start, length, extra in specs:
        if kind == U:
            out[name] = _apply(_vec_u(V, bits, start, length), extra)
        elif kind == I:
            out[name] = _apply(_vec_i(V, bits, start, length), extra)
        elif kind == OPT:
            out[name] = np.where(bits >= extra, _vec_u(V, bits, start, length), 0)
        elif kind == TAIL:
            out[name] = _vec_tail(V, bits, start)
        elif kind == TEXT:
            out[name] = _vec_text(V, bits, start, length)
        elif kind == TEXTV:
            out[name] = _vec_text(V, bits, start, max_bits - start)
        elif kind == TEXTE:
            txt = _vec_text(V, bits, start, max_bits - start)
            out[name] = np.where(bits - start >= 6, txt, None)
        elif kind == "rot":
            raw = _vec_i(V, bits, start, length)
            q = (raw / 4.733) ** 2
            out[name] = np.where(raw > 0, q, -q)
    return out


def decode_batch(payload: pd.Series, top_cols: list[str], scalar_decode) -> pd.DataFrame:
    """One Arrow batch -> the DECODED frame. Vector path for the fixed
    families above; everything else through ``scalar_decode`` (the per-row
    kernel), which remains the semantic source of truth."""
    n = len(payload)
    cols: dict[str, np.ndarray] = {
        c: np.full(n, None, dtype=object) for c in top_cols
    }
    notnull = payload.notna().to_numpy()
    pl = payload.fillna("").astype(str).tolist()
    V, lens, char_ok = _payload_matrix(pl)
    bits = lens * 6
    mt = np.where(lens >= 1, V[:, 0], -1)
    handled = ~notnull  # null payloads stay all-null records

    rep = _vec_u(V, bits, 6, 2)
    mmsi = _vec_u(V, bits, 8, 30)
    u_all = lambda s, l: _vec_u(V, bits, s, l)
    for family, types, len_cap, mask_fn, specs in VEC_ENTRIES:
        sel = notnull & char_ok & np.isin(mt, types) & (lens <= len_cap)
        if mask_fn is not None:
            sel &= mask_fn(u_all)
        idx = np.nonzero(sel)[0]
        if not idx.size:
            continue
        # column-slice to the family cap: a longer payload elsewhere in the
        # batch must not widen the zero-pad fold (tail_u would overflow int64)
        fields = _decode_family(V[idx][:, :len_cap], bits[idx], specs)
        names = list(fields)
        recs = [dict(zip(names, vals)) for vals in zip(*fields.values())]
        cols["messageType"][idx] = mt[idx]
        cols["repeat"][idx] = rep[idx]
        cols["mmsi"][idx] = mmsi[idx]
        cols["family"][idx] = family
        cols[family][idx] = np.array(recs + [None], dtype=object)[:-1]
        handled[idx] = True

    for i in np.nonzero(~handled)[0]:
        rec = scalar_decode(pl[i])
        for c in top_cols:
            cols[c][i] = rec[c]
    return pd.DataFrame(cols, columns=top_cols)
