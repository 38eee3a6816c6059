"""Seeded synthetic AIS day archive with exact ground truth.

Every sentence is built from field values: the payload bits are packed
MSB-first, armored six bits per character and closed with a real NMEA
checksum, so the archive exercises the same scan -> checksum -> tokenize ->
reassembly -> decode path a receiver log does. The message mix:

- positions (types 1/2/3, about 85%) from vessels whose tracks cross both
  TSS lanes of ``pincspark/data/tss_zones.json``;
- two-part type 5 static/voyage reports (about 7%, class-A vessels);
- type 24 part A/B static reports (about 3%, class-B vessels);
- the non-gold single-sentence messages of the golden corpus (types 4, 6,
  8, 9, 18, 19, 21), re-stamped with this archive's tag blocks;
- about 1% corrupted checksums (on single sentences and on type-5 second
  fragments, so no surviving fragment can be spliced into a fake message);
- about 0.5% orphan type-5 first fragments whose partner never arrives.

``generate`` returns the lines (in time order, each with a tag block
carrying the epoch) and a ``Truth`` record counting what a correct
pipeline must keep. The same seed always yields the same bytes.
"""

from __future__ import annotations

import functools
import json
import math
import os
import random
from dataclasses import asdict, dataclass, field

ARMOR = "0123456789:;<=>?@ABCDEFGHIJKLMNOPQRSTUVW`abcdefghijklmnopqrstuvw"
_ARMOR2 = [a + b for a in ARMOR for b in ARMOR]  # 12-bit value -> two chars
DAY0 = 1673222400  # 2023-01-09T00:00:00Z
DAY_S = 86_400
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Lane axis of the Strait of Malacca TSS (NW end, SE end) and the unit
# normal pointing NE: a track along the normal crosses both lanes.
_AXIS_A = (100.80, 3.02)
_AXIS_B = (103.45, 1.19)
_dx, _dy = _AXIS_B[0] - _AXIS_A[0], _AXIS_B[1] - _AXIS_A[1]
_norm = math.hypot(_dx, _dy)
_NORMAL = (-_dy / _norm, _dx / _norm)
if _NORMAL[1] < 0:
    _NORMAL = (-_NORMAL[0], -_NORMAL[1])
_HALF_CROSS_DEG = 0.35

_NAMES = ["OCEAN", "PACIFIC", "STAR", "GLORY", "PEARL", "EAGLE", "MERIDIAN",
          "HARMONY", "SPIRIT", "EXPRESS", "DRAGON", "LOTUS", "KAPAL", "BINTANG"]
_PORTS = ["SGSIN", "MYPKG", "MYTPP", "IDBTM", "CNSHA", "INNSA", "AEJEA", "NLRTM"]


@dataclass
class Truth:
    """What a correct pipeline keeps from the archive."""

    lines: int = 0
    checksum_rejects: int = 0
    incomplete_groups: int = 0
    msgs: int = 0  # complete messages after reassembly (all types)
    positions: int = 0  # valid types 1/2/3 == gold rows == fact rows
    statics: int = 0  # valid type 5 + type 24 messages
    vessels: int = 0

    def as_dict(self) -> dict:
        return asdict(self)


@dataclass
class Vessel:
    mmsi: int
    class_a: bool
    name: str
    callsign: str
    ship_type: int
    destination: str
    draught: int  # decimetres
    centre: tuple = field(default=(0.0, 0.0))
    phase: float = 0.0
    speed: float = 1.0  # crossings per day


def _pack(fields: list[tuple[int, int]]) -> tuple[str, int]:
    """(value, width) fields MSB-first -> (armored payload, fill bits)."""
    acc = 0
    n = 0
    for value, width in fields:
        acc = (acc << width) | (value & ((1 << width) - 1))
        n += width
    fill = (-n) % 6
    acc <<= fill
    n += fill
    head = ARMOR[acc >> (n - 6)] if n % 12 else ""
    pairs = [_ARMOR2[(acc >> s) & 4095] for s in range(n - 12 - 6 * len(head), -1, -12)]
    return head + "".join(pairs), fill


def _text(s: str, nchars: int) -> int:
    """6-bit ASCII text field value, '@'-padded to ``nchars``."""
    v = 0
    for ch in s[:nchars].ljust(nchars, "@"):
        c = ord(ch)
        v = (v << 6) | (c - 64 if c >= 64 else c)
    return v


def nmea_checksum(body: str) -> int:
    x = 0
    for b in body.encode():
        x ^= b
    return x


def sentence(payload: str, fill: int, total: int = 1, num: int = 1,
             seq: str = "", channel: str = "A", corrupt: bool = False) -> str:
    body = f"AIVDM,{total},{num},{seq},{channel},{payload},{fill}"
    cs = nmea_checksum(body)
    if corrupt:
        cs ^= 0x5A
    return f"!{body}*{cs:02X}"


@functools.lru_cache(maxsize=4)
def tag_block(ts: int) -> str:
    body = f"s:rPB01,c:{ts}"
    return f"\\{body}*{nmea_checksum(body):02X}\\"


def position_payload(msg_type: int, mmsi: int, lon: float, lat: float,
                     sog: int, cog: int, heading: int, second: int) -> str:
    payload, _ = _pack([
        (msg_type, 6), (0, 2), (mmsi, 30), (0, 4), (0, 8), (sog, 10), (1, 1),
        (round(lon * 600000), 28), (round(lat * 600000), 27), (cog, 12),
        (heading, 9), (second, 6), (0, 2), (0, 3), (0, 1), (0, 19),
    ])
    return payload


def type5_payload(v: Vessel, eta: tuple[int, int, int, int]) -> tuple[str, int]:
    month, day, hour, minute = eta
    return _pack([
        (5, 6), (0, 2), (v.mmsi, 30), (0, 2), (9000000 + v.mmsi % 999999, 30),
        (_text(v.callsign, 7), 42), (_text(v.name, 20), 120),
        (v.ship_type, 8), (120, 9), (40, 9), (10, 6), (12, 6), (1, 4),
        (month, 4), (day, 5), (hour, 5), (minute, 6), (v.draught, 8),
        (_text(v.destination, 20), 120), (0, 1), (0, 1),
    ])


def type24_payload(v: Vessel, part: int) -> str:
    if part == 0:
        fields = [(24, 6), (0, 2), (v.mmsi, 30), (0, 2), (_text(v.name, 20), 120),
                  (0, 8)]
    else:
        fields = [(24, 6), (0, 2), (v.mmsi, 30), (1, 2), (v.ship_type, 8),
                  (_text("PBGEN", 3), 18), (1, 4), (v.mmsi % 1000000, 20),
                  (_text(v.callsign, 7), 42), (20, 9), (5, 9), (3, 6), (3, 6),
                  (0, 6)]
    payload, _ = _pack(fields)
    return payload


def _non_gold_sentences() -> list[str]:
    """The golden corpus's single-sentence messages of non-gold types."""
    with open(os.path.join(REPO, "tests", "golden", "reference_decoded.json")) as f:
        golden = json.load(f)
    out = []
    for rec in golden:
        sents = rec["sentences"]
        if len(sents) != 1:
            continue
        payload = sents[0].split(",")[5]
        if ARMOR.index(payload[0]) not in (1, 2, 3, 5, 24):
            out.append(sents[0])
    return out


def _vessels(rng: random.Random, n: int) -> list[Vessel]:
    mmsis = rng.sample(range(200_000_000, 775_999_999), n)
    out = []
    for mmsi in mmsis:
        class_a = rng.random() < 0.7
        f = rng.uniform(0.04, 0.96)
        centre = (_AXIS_A[0] + f * _dx, _AXIS_A[1] + f * _dy)
        out.append(Vessel(
            mmsi=mmsi,
            class_a=class_a,
            name=f"{rng.choice(_NAMES)} {rng.choice(_NAMES)} {rng.randrange(1, 99)}",
            callsign="".join(rng.choice("ABCDEFGHJKLMNPRSTUVWXYZ9") for _ in range(5)),
            ship_type=rng.choice([30, 52, 60, 70, 71, 79, 80, 84]),
            destination=rng.choice(_PORTS),
            draught=rng.randrange(30, 160),
            centre=centre,
            phase=rng.random(),
            speed=rng.uniform(0.6, 2.5),
        ))
    return out


def _track(v: Vessel, ts: int) -> tuple[float, float]:
    """Ping-pong crossing of both lanes along the lane normal."""
    u = (v.phase + v.speed * (ts - DAY0) / DAY_S) % 2.0
    s = (u if u <= 1.0 else 2.0 - u) * 2.0 - 1.0  # -1 .. 1
    d = s * _HALF_CROSS_DEG
    return v.centre[0] + d * _NORMAL[0], v.centre[1] + d * _NORMAL[1]


def generate(seed: int, n_messages: int, n_vessels: int,
             start: int = DAY0) -> tuple[list[str], Truth]:
    """Build the archive lines for ``seed``: ``n_messages`` message slots
    from ``n_vessels`` vessels, spread over one day from ``start``."""
    rng = random.Random(seed)
    vessels = _vessels(rng, n_vessels)
    class_a = [v for v in vessels if v.class_a]
    class_b = [v for v in vessels if not v.class_a]
    others = _non_gold_sentences()
    last_pos_ts: dict[int, int] = {}
    truth = Truth(vessels=n_vessels)
    lines: list[str] = []
    seq = 0

    def emit(ts: int, sent: str) -> None:
        lines.append(tag_block(ts) + sent)

    for i in range(n_messages):
        ts = start + (i * DAY_S) // n_messages
        r = rng.random()
        bad = rng.random() < 0.01
        if r < 0.85:
            while True:
                v = vessels[int(rng.random() * n_vessels)]
                if last_pos_ts.get(v.mmsi) != ts:
                    break
            last_pos_ts[v.mmsi] = ts
            lon, lat = _track(v, ts)
            payload = position_payload(
                (1, 1, 1, 2, 3)[int(rng.random() * 5)], v.mmsi, lon, lat,
                int(rng.random() * 180), int(rng.random() * 3600),
                int(rng.random() * 360), ts % 60,
            )
            emit(ts, sentence(payload, 0, corrupt=bad))
            if not bad:
                truth.positions += 1
        elif r < 0.925:
            v = rng.choice(class_a)
            payload, fill = type5_payload(
                v, (1 + rng.randrange(12), 1 + rng.randrange(28),
                    rng.randrange(24), rng.randrange(60)))
            sid = str(seq)
            seq = (seq + 1) % 10
            ch = rng.choice("AB")
            orphan = r >= 0.92
            emit(ts, sentence(payload[:60], 0, 2, 1, sid, ch))
            if orphan:
                truth.incomplete_groups += 1
                continue
            emit(ts, sentence(payload[60:], fill, 2, 2, sid, ch, corrupt=bad))
            if bad:
                truth.incomplete_groups += 1
            else:
                truth.statics += 1
        elif r < 0.955 and class_b:
            v = rng.choice(class_b)
            emit(ts, sentence(type24_payload(v, rng.randrange(2)), 0,
                              channel=rng.choice("AB"), corrupt=bad))
            if not bad:
                truth.statics += 1
        else:
            sent = others[int(rng.random() * len(others))]
            if bad:
                body, cs = sent[1:].rsplit("*", 1)
                sent = f"!{body}*{int(cs, 16) ^ 0x5A:02X}"
            emit(ts, sent)
            if not bad:
                truth.msgs += 1
        if bad:
            truth.checksum_rejects += 1
    truth.lines = len(lines)
    truth.msgs += truth.positions + truth.statics
    return lines, truth


def write_archive(path: str, seed: int, **kw) -> Truth:
    """Write the archive to ``path`` and its truth to ``path + '.truth.json'``."""
    lines, truth = generate(seed, **kw)
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    with open(path + ".truth.json", "w") as f:
        json.dump(truth.as_dict(), f, indent=1, sort_keys=True)
    return truth


def split_groups(lines: list[str], lines_per_file: int) -> list[list[str]]:
    """Cut ``lines`` into chunks of about ``lines_per_file`` that never split
    a multi-part group (a cut only lands before a first fragment)."""
    chunks: list[list[str]] = []
    cur: list[str] = []
    for line in lines:
        bang = line.index("!")
        num = line[bang:].split(",", 3)[2]
        if len(cur) >= lines_per_file and num == "1":
            chunks.append(cur)
            cur = []
        cur.append(line)
    if cur:
        chunks.append(cur)
    return chunks
