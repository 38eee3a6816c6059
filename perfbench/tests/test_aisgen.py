"""The seeded AIS generator: deterministic bytes, valid NMEA framing, and
payloads that decode back to the field values they were built from."""

import random

import aisgen
from pincspark.decode.kernel import decode_payload
from pincspark.functions.nmea import checksum_ok


def _archive(tmp_path, name, seed):
    path = tmp_path / name
    truth = aisgen.write_archive(str(path), seed, n_messages=6_000, n_vessels=80)
    return path.read_bytes(), truth


def test_same_seed_same_bytes(tmp_path):
    a, truth_a = _archive(tmp_path, "a.log", 11)
    b, truth_b = _archive(tmp_path, "b.log", 11)
    c, _ = _archive(tmp_path, "c.log", 12)
    assert a == b
    assert truth_a == truth_b
    assert a != c
    assert (tmp_path / "a.log.truth.json").read_bytes() == (tmp_path / "b.log.truth.json").read_bytes()


def test_checksums_and_truth_counts(tmp_path):
    from reference_baseline import decode_archive

    raw, truth = _archive(tmp_path, "a.log", 5)
    lines = raw.decode().splitlines()
    assert len(lines) == truth.lines
    bad = [ln for ln in lines if not checksum_ok(ln[ln.index("!"):])]
    assert len(bad) == truth.checksum_rejects > 0
    sample = random.Random(0).sample([ln for ln in lines if ln not in bad], 300)
    assert all(checksum_ok(ln[ln.index("!"):]) for ln in sample)
    # The reference's own per-line decode loop keeps exactly the truth.
    positions, statics = decode_archive(str(tmp_path / "a.log"))
    assert len(positions) == truth.positions
    assert len(statics) == truth.statics
    assert truth.incomplete_groups > 0


def test_position_fields_round_trip():
    payload = aisgen.position_payload(3, 563012345, 101.234567, 2.468013, 123, 2345, 271, 42)
    rec = decode_payload(payload)
    assert rec["messageType"] == 3 and rec["mmsi"] == 563012345
    p = rec["position"]
    assert p["longitude"] == round(101.234567 * 600000) / 600000.0
    assert p["latitude"] == round(2.468013 * 600000) / 600000.0
    assert (p["sog"], p["cog"], p["trueHeading"], p["timeStamp"]) == (12.3, 234.5, 271, 42)


def test_static_fields_round_trip():
    v = aisgen._vessels(random.Random(1), 1)[0]
    payload, fill = aisgen.type5_payload(v, (3, 14, 15, 9))
    assert fill == 2 and len(payload) == 71
    s = decode_payload(payload)["static_voyage"]
    assert (s["shipName"], s["callsign"], s["destination"]) == (v.name, v.callsign, v.destination)
    assert (s["shipType"], s["draught"]) == (v.ship_type, v.draught / 10.0)
    assert (s["eta_month"], s["eta_day"], s["eta_hour"], s["eta_minute"]) == (3, 14, 15, 9)
    a = decode_payload(aisgen.type24_payload(v, 0))
    b = decode_payload(aisgen.type24_payload(v, 1))
    assert a["mmsi"] == b["mmsi"] == v.mmsi
    assert a["static_report"]["shipName"] == v.name
    assert b["static_report"]["callsign"] == v.callsign
    assert b["static_report"]["shipType"] == v.ship_type


def test_split_groups_keeps_groups_whole():
    lines, _ = aisgen.generate(3, n_messages=3_000, n_vessels=40)
    chunks = aisgen.split_groups(lines, 200)
    assert sum(chunks, []) == lines
    for chunk in chunks:
        first = chunk[0][chunk[0].index("!"):].split(",")
        assert first[2] == "1"
