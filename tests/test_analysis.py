"""End-to-end flagship pipeline test (SURVEY §3.1 / §7.2): a synthetic
archive with interleaved position/static traffic for one vessel exercises
scan -> reassembly -> decode -> as-of join (backward-inclusive, null before
first static) -> gold parquet round-trip -> zone join -> occupancy."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from tests.test_geo import winding_inside
from pincspark.operators.geo import load_zone_data

GOLDEN = json.load(
    open(os.path.join(os.path.dirname(__file__), "golden", "reference_decoded.json"))
)


def _tag(epoch: int) -> str:
    return f"\\s:rTEST,c:{epoch}*00"


@pytest.fixture(scope="module")
def archive(tmp_path_factory):
    """Golden corpus re-sequenced: position msgs at t0/t2/t4, the 2-part
    type-5 static at t1, so as-of semantics are observable."""
    lines = []
    t = 1673222400
    # first: both position sentences (before any static -> nulls)
    pos = [r for r in GOLDEN if r["common"]["messageType"] in (1, 3)]
    stat5 = next(r for r in GOLDEN if r["common"]["messageType"] == 5)
    for r in pos:
        for s in r["sentences"]:
            lines.append(_tag(t) + s)
        t += 60
    # then the static, then replay the positions (now enriched)
    for s in stat5["sentences"]:
        lines.append(_tag(t) + s)
    t += 60
    for r in pos:
        for s in r["sentences"]:
            lines.append(_tag(t) + s)
        t += 60
    p = tmp_path_factory.mktemp("an") / "Datalog_an"
    p.write_text("\n".join(lines) + "\n")
    return str(p), pos, stat5


def _with_mmsi(sentence: str, mmsi: int) -> str:
    """A single-part sentence with its payload's MMSI (bits 8-37) replaced
    and the checksum recomputed."""
    fields = sentence.split(",")
    six = [ord(c) - 48 for c in fields[5]]
    bits = "".join(f"{v - 8 if v > 40 else v:06b}" for v in six)
    bits = bits[:8] + f"{mmsi:030b}" + bits[38:]
    fields[5] = "".join(
        chr(v + 56 if v > 39 else v + 48)
        for v in (int(bits[i : i + 6], 2) for i in range(0, len(bits), 6))
    )
    body = ",".join(fields).split("*")[0]
    checksum = 0
    for ch in body[1:]:
        checksum ^= ord(ch)
    return f"{body}*{checksum:02X}"


def test_flagship_pipeline(spark, tmp_path, archive):
    from pincspark.analysis import batch_archive_analysis

    path, pos, stat5 = archive
    gold_path = str(tmp_path / "gold")
    gold, occupancy = batch_archive_analysis(spark, path, gold_path=gold_path)

    rows = gold.collect()
    assert len(rows) == 4  # 2 positions replayed twice
    static_mmsi = stat5["common"]["mmsi"]

    by_ts = sorted(rows, key=lambda r: r["ts"])
    early, late = by_ts[:2], by_ts[2:]
    # before any static report: no enrichment
    assert all(r["shipName"] is None for r in early)
    # after: positions of the static's vessel carry its name; others null
    for r in late:
        if r["mmsi"] == static_mmsi:
            assert r["shipName"] == "MAERSK WALLIS"
            assert r["draught"] == pytest.approx(10.8)
        else:
            assert r["shipName"] is None

    # gold parquet round-trip happened (S8)
    assert os.path.exists(gold_path)

    # occupancy matches an independent winding-number check of the decoded
    # positions against the zone rings
    zones = load_zone_data()
    expected = {}
    for z in zones:
        vs = set()
        n_reports = 0
        for r in rows:
            if winding_inside(r["longitude"], r["latitude"], z["coordinates"]):
                vs.add(r["mmsi"])
                n_reports += 1
        if vs:
            expected[z["zone_id"]] = (len(vs), n_reports)
    got = {
        r["zone_id"]: (r["n_vessels"], r["n_reports"]) for r in occupancy.collect()
    }
    assert got == expected


def test_fused_gold_matches_composed(spark, tmp_path, archive):
    """build_gold_fused (one narrow pass over decoded, the flagship's path)
    must be row-identical to the pandas twin's composed gold — the
    reference's decode loop split into position and static frames, then
    ``pd.merge_asof`` on ts by mmsi (ais_analysis.py:476) — on every column
    both produce, including the t24 static branch with its null-filled
    destination/draught."""
    import pandas as pd

    from pincspark.analysis import GOLD_TYPES, build_gold_fused
    from pincspark.sources.nmea_source import read_and_decode
    from scripts.reference_baseline import decode_archive

    path, pos1, stat5 = archive
    # widen the traffic: append every golden message (incl. both type-24
    # parts and non-gold types that must be filtered identically)
    lines = open(path).read().splitlines()
    t = 1673223400
    for r in GOLDEN:
        for s in r["sentences"]:
            lines.append(_tag(t) + s)
        t += 60
    # then positions of the static vessels themselves: one at the SAME ts
    # as the type-5 static (the backward-inclusive tie) and ones after the
    # type-5 and the type-24 part-B statics (part B nulls shipName), so
    # the as-of actually joins
    t24b = next(
        r for r in GOLDEN
        if r["common"]["messageType"] == 24 and r["common"]["mmsi"] == 533000650
    )
    type1 = pos1[0]["sentences"][0]
    for r in (stat5, t24b):
        for s in r["sentences"]:
            lines.append(_tag(t) + s)
        mmsi = r["common"]["mmsi"]
        lines.append(_tag(t) + _with_mmsi(type1, mmsi))
        lines.append(_tag(t + 60) + _with_mmsi(type1, mmsi))
        t += 120
    p = tmp_path / "Datalog_fused"
    p.write_text("\n".join(lines) + "\n")

    positions, statics = decode_archive(str(p))
    pos = pd.DataFrame(
        positions,
        columns=["ts", "messageType", "mmsi", "longitude", "latitude", "sog", "cog"],
    )
    stat = pd.DataFrame(
        statics,
        columns=["ts", "mmsi", "shipName", "shipType", "callsign",
                 "destination", "draught"],
    )
    twin = pd.merge_asof(
        pos.sort_values("ts", kind="stable"),
        stat.sort_values("ts", kind="stable"),
        on="ts",
        by="mmsi",
    )
    cols = [c for c in twin.columns if c != "messageType"]
    want = sorted(
        tuple(None if pd.isna(v) else v for v in row)
        for row in twin[cols].itertuples(index=False)
    )

    fused = build_gold_fused(
        read_and_decode(spark, str(p), message_types=GOLD_TYPES, stage_decoded=False)
    )
    assert set(cols) <= set(fused.columns)
    got = sorted(
        tuple(r)
        for r in fused.select(
            F.col("ts").cast("long").alias("ts"), *cols[1:]
        ).collect()
    )
    assert len(got) == len(pos) == 10
    assert got == want
    joined = {(r[cols.index("shipName")], r[cols.index("shipType")]) for r in got}
    assert {("MAERSK WALLIS", stat5["body"]["shipType"]), (None, 60)} < joined


def test_asof_tie_is_backward_inclusive(spark):
    """Equal timestamps: the static at the SAME ts as the position must be
    picked up (pandas merge_asof backward-inclusive, ais_analysis.py:476)."""
    from pincspark.operators.asof import asof_join

    positions = spark.createDataFrame(
        [(100, 10.0, 1.0, 5)], "mmsi BIGINT, longitude DOUBLE, latitude DOUBLE, ts INT"
    ).selectExpr("mmsi", "longitude", "latitude", "timestamp_seconds(ts) AS ts")
    statics = spark.createDataFrame(
        [(100, 5, "SHIP A", 70, "CS", "DEST", 5.0)],
        "mmsi BIGINT, ts INT, shipName STRING, shipType INT, callsign STRING, destination STRING, draught DOUBLE",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    gold = asof_join(positions, statics, on="ts", by="mmsi")
    r = gold.collect()[0]
    assert r["shipName"] == "SHIP A"
