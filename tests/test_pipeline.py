"""End-to-end batch pipeline test (SURVEY §3.1): synthetic archive file ->
line scan -> tag-block ts -> tokenize -> checksum/sequence validation ->
multi-part reassembly -> pandas-UDF decode -> typed family projections.

Negative fixtures (must be dropped, ais_analysis.py:266-286): bad checksum,
incomplete fragment group, out-of-sequence fragments.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

GOLDEN = json.load(
    open(os.path.join(os.path.dirname(__file__), "golden", "reference_decoded.json"))
)

TAG = "\\s:rORBCOMM000,q:u,c:1673222400,i:|X=1|D=1|T=41.07527777*32"


@pytest.fixture(scope="module")
def archive(tmp_path_factory):
    p = tmp_path_factory.mktemp("ais") / "Datalog_test"
    lines = []
    for rec in GOLDEN:
        for s in rec["sentences"]:
            lines.append(TAG + s)
    # negative: bad checksum
    lines.append(TAG + "!ABVDM,1,1,7,A,15R9eN001n7DHvT13w0TBSM>00Rm,0*55")
    # negative: incomplete 2-part group (part 2 missing)
    lines.append(TAG + "!ABVDM,2,1,4,A,58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l,0*14")
    # negative: out-of-sequence parts (2 then 1) — group key never aligns
    lines.append(TAG + "!ABVDM,2,2,5,A,PAiH8888880,2*1A")
    lines.append(TAG + "!ABVDM,2,1,5,A,58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l,0*15")
    # blank line and garbage line without '!'
    lines.append("")
    lines.append("no bang here")
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_read_and_decode(spark, archive):
    from pincspark.sources.nmea_source import read_and_decode

    df = read_and_decode(spark, archive).cache()
    rows = df.collect()
    # every golden group decodes; all negatives dropped
    assert len(rows) == len(GOLDEN)

    decoded = {r["ais"]["mmsi"]: r for r in rows}
    for rec in GOLDEN:
        mmsi = rec["common"]["mmsi"]
        assert mmsi in decoded
        r = decoded[mmsi]
        assert r["ais"]["messageType"] == rec["common"]["messageType"]
        # event time came from the tag block (P27)
        assert r["ts"] is not None and r["ts"].year == 2023

    # multi-part type 5 reassembled into one message
    t5 = [r for r in rows if r["ais"]["messageType"] == 5]
    assert len(t5) == 1 and t5[0]["n_sentences"] == 2
    assert t5[0]["ais"]["static_voyage"]["shipName"] == "MAERSK WALLIS"
    assert t5[0]["ais"]["static_voyage"]["destination"] == "TPP ANCHORAGE"

    # typed family projection flattens cleanly
    pos = df.filter(F.col("ais.messageType").isin(1, 2, 3)).select(
        "ts", "ais.mmsi", "ais.position.*"
    )
    prow = {r["mmsi"]: r for r in pos.collect()}
    g1 = next(r for r in GOLDEN if r["common"]["messageType"] == 1)
    mine = prow[g1["common"]["mmsi"]]
    assert mine["sog"] == pytest.approx(g1["body"]["sog"])
    assert mine["longitude"] == pytest.approx(g1["body"]["longitude"])
    assert mine["latitude"] == pytest.approx(g1["body"]["latitude"])
    assert mine["navStatus"] == g1["body"]["navStatus"]


def test_routing_fast_path(spark, archive):
    """Pure-SQL routing columns agree with the Python decode for every row."""
    from pincspark.decode.kernel import (
        decode_ais,
        routing_message_type,
        routing_mmsi,
    )
    from pincspark.sources.nmea_source import (
        read_archive,
        reassemble,
        tokenize_sentences,
        with_tagblock_ts,
    )

    msgs = reassemble(tokenize_sentences(with_tagblock_ts(read_archive(spark, archive))))
    both = decode_ais(msgs).select(
        routing_message_type(F.col("payload")).alias("mt_sql"),
        routing_mmsi(F.col("payload")).alias("mmsi_sql"),
        F.col("ais.messageType").alias("mt_py"),
        F.col("ais.mmsi").alias("mmsi_py"),
    )
    for r in both.collect():
        assert r["mt_sql"] == r["mt_py"]
        assert r["mmsi_sql"] == r["mmsi_py"]


def test_family_sql_decode_matches_python_kernel(spark):
    """q32/q33/q34's pure-SQL decode of types 5/18/24/27 (including the
    6-bit text fields) agrees field-by-field with the Python kernel's
    family decoders on the same payloads."""
    from pincspark.decode.families import decode_message
    from pincspark.functions.nmea import Bits
    from pincspark.plans import queries as Q
    from tests.conftest import SF_DIR

    expected = {}
    for payload in (
        Q.STATIC_VOYAGE_PAYLOAD,
        Q.CLASSB_PAYLOAD,
        Q.LONG_RANGE_PAYLOAD,
        *Q.STATIC_REPORT_PAYLOADS,
    ):
        rec = decode_message(Bits.from_payload(payload))
        expected[payload] = {**rec, **rec["payload_fields"]}

    checks = {  # query -> {output column: kernel field}
        Q.q32_static_voyage_sql: {
            "message_type": "messageType", "mmsi": "mmsi", "imo": "imo",
            "callsign": "callsign", "ship_name": "shipName",
            "ship_type": "shipType", "draught": "draught",
            "destination": "destination", "eta_month": "eta_month",
            "dte": "dte",
        },
        Q.q33_classb_longrange_sql: {
            "message_type": "messageType", "mmsi": "mmsi",
            "longitude": "longitude", "latitude": "latitude",
            "sog": "sog", "cog": "cog",
        },
        Q.q34_static_report_sql: {
            "message_type": "messageType", "mmsi": "mmsi", "part_no": "partNo",
        },
    }
    for qfn, cols in checks.items():
        for r in qfn(spark, SF_DIR).collect():
            exp = expected[r["payload"]]
            for col, field in cols.items():
                assert r[col] == exp[field], (qfn.__name__, col, r[col], exp[field])
    # the fork-dependent type-24 fields, per part
    rows = {r["part_no"]: r for r in Q.q34_static_report_sql(spark, SF_DIR).collect()}
    exp_part = {expected[p]["partNo"]: expected[p] for p in Q.STATIC_REPORT_PAYLOADS}
    assert rows[0]["ship_name"] == exp_part[0]["shipName"] and rows[0]["vendor"] is None
    assert rows[1]["ship_name"] is None
    assert rows[1]["vendor"] == exp_part[1]["vendor"]
    assert rows[1]["callsign"] == exp_part[1]["callsign"]
    assert rows[1]["to_bow"] == exp_part[1]["to_bow"]


def test_bitfield_sql_matches_python_kernel(spark):
    """The generic SQL bit-field extractor (arbitrary spans, signed and
    unsigned) agrees with the Python Bits kernel AND the reference-golden
    values on the corpus position payloads."""
    import pytest as _pytest

    from pincspark.decode.kernel import bitfield_sql
    from pincspark.functions.nmea import Bits

    payloads = [
        r["sentences"][0].split(",")[5]
        for r in GOLDEN
        if r["common"]["messageType"] in (1, 3)
    ]
    golden = {
        r["sentences"][0].split(",")[5]: r
        for r in GOLDEN
        if r["common"]["messageType"] in (1, 3)
    }
    df = spark.createDataFrame([(p,) for p in payloads], "payload STRING")
    spans = [(0, 6, False), (8, 30, False), (38, 4, False), (50, 10, False),
             (61, 28, True), (89, 27, True), (116, 12, False), (128, 9, False)]
    sel = df.select(
        "payload",
        *[
            F.expr(bitfield_sql("payload", s, n, sg, dialect="spark")).alias(f"f_{s}_{n}")
            for s, n, sg in spans
        ],
    )
    for r in sel.collect():
        b = Bits.from_payload(r["payload"])
        for s, n, sg in spans:
            expected = b.i(s, n) if sg else b.u(s, n)
            assert r[f"f_{s}_{n}"] == expected, (s, n, sg)
        g = golden[r["payload"]]
        assert r["f_8_30"] == g["common"]["mmsi"]
        assert r["f_61_28"] / 600000.0 == _pytest.approx(g["body"]["longitude"])
        assert r["f_89_27"] / 600000.0 == _pytest.approx(g["body"]["latitude"])


def test_reassemble_repairs_split_boundary_groups(spark, tmp_path):
    """A multi-part group cut by an input-split (file) boundary is dropped
    by the adjacency pass but rescued by the boundary-repair pass."""
    from pincspark.sources.nmea_source import (
        read_archive,
        reassemble,
        tokenize_sentences,
        with_tagblock_ts,
    )

    part1 = "!ABVDM,2,1,4,A,58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l,0*14"
    part2 = "!ABVDM,2,2,4,A,PAiH8888880,2*1B"
    single = "!ABVDM,1,1,7,A,15R9eN001n7DHvT13w0TBSM>00Rm,0*54"
    d = tmp_path / "archive"
    d.mkdir()
    (d / "a.log").write_text(TAG + single + "\n" + TAG + part1 + "\n")
    (d / "b.log").write_text(TAG + part2 + "\n" + TAG + single + "\n")

    tok = tokenize_sentences(with_tagblock_ts(read_archive(spark, str(d))))
    # the halves really sit in different input splits (line_idx's upper
    # bits are the partition index), so the adjacency pass alone cannot
    # join them — only the repair pass can
    halves = tok.filter(F.col("total") == 2).collect()
    assert len({r["line_idx"] >> 33 for r in halves}) == 2
    repaired = reassemble(tok).collect()
    assert sorted(r["n_sentences"] for r in repaired) == [1, 1, 2]
    two = next(r for r in repaired if r["n_sentences"] == 2)
    assert two["payload"].endswith("PAiH8888880") and two["payload"].startswith("58I3mA82")


def test_reassemble_splice_guard_rejects_unrelated_orphans(spark, tmp_path):
    """ADVICE r2: two orphan fragments with the same (seq_id, total) whose
    partners were lost (e.g. to checksum failures) must NOT be spliced into
    a fabricated message — the reference, reading one unsplit stream, drops
    both. Only a continuation sitting at row offset 0 of the NEXT split
    qualifies as a boundary cut."""
    from pincspark.sources.nmea_source import (
        read_archive,
        reassemble,
        tokenize_sentences,
        with_tagblock_ts,
    )

    part1 = "!ABVDM,2,1,4,A,58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l,0*14"
    part2 = "!ABVDM,2,2,4,A,PAiH8888880,2*1B"
    single = "!ABVDM,1,1,7,A,15R9eN001n7DHvT13w0TBSM>00Rm,0*54"
    d = tmp_path / "archive"
    d.mkdir()
    # orphan frag 1 (its partner never arrives in this split), then a
    # singleton — so frag 1 is NOT at a split tail in any meaningful way
    (d / "a.log").write_text(TAG + part1 + "\n" + TAG + single + "\n")
    # frag 2 at offset 1 of the next split: not a boundary continuation
    (d / "b.log").write_text(TAG + single + "\n" + TAG + part2 + "\n")

    tok = tokenize_sentences(with_tagblock_ts(read_archive(spark, str(d))))
    out = reassemble(tok).collect()
    # both singles decode; the two orphan halves are dropped, not spliced
    assert sorted(r["n_sentences"] for r in out) == [1, 1]


def test_ingest_census_accounts_for_every_line(spark):
    """q110's conservation law: line statuses + group outcomes account for
    EVERY archive line exactly once, and the counts equal an independent
    pure-Python replay of the documented contract (third implementation
    next to the engine and the DuckDB oracle)."""
    from functools import reduce
    from operator import xor

    from pincspark.plans.queries import INGEST_ARCHIVE, q110_ingest_census

    expect: dict[str, int] = {}
    valid = []  # (line_no, total, num, seq)
    for i, line in enumerate(INGEST_ARCHIVE):
        if line == "":
            k = "empty"
        elif "!" not in line:
            k = "no_bang"
        else:
            sentence = line[line.index("!"):]
            if "*" not in sentence:
                k = "no_checksum"
            else:
                body, _, decl = sentence.partition("*")
                if reduce(xor, body[1:].encode(), 0) != int(decl, 16):
                    k = "bad_checksum"
                else:
                    p = sentence.split(",")
                    valid.append((i, int(p[1] or 1), int(p[2] or 1), int(p[3] or 0)))
                    continue
        expect[k] = expect.get(k, 0) + 1
    groups: dict[tuple, list[int]] = {}
    for line_no, total, num, seq in valid:
        groups.setdefault((line_no - (num - 1), seq, total), []).append(num)
    for (gkey, seq, total), nums in groups.items():
        ok = sorted(nums) == list(range(1, total + 1))
        k = "assembled" if ok else "orphaned"
        expect[k] = expect.get(k, 0) + len(nums)

    got = {r["status"]: r["n"] for r in q110_ingest_census(spark, "").collect()}
    assert sum(got.values()) == len(INGEST_ARCHIVE)
    assert got == expect
    # the corpus really exercises every class
    assert set(expect) == {
        "empty", "no_bang", "no_checksum", "bad_checksum", "assembled", "orphaned"
    }


def test_weather_sql_decode_matches_python_kernel(spark):
    """q49's pure-SQL DAC1/FID31 decode agrees field-by-field (all 35
    integer met-hydro spans, the /60000 lon/lat variant, and every enum
    description) with the Python kernel on the golden + synthesized
    weather payloads."""
    from pincspark.decode.families import decode_message
    from pincspark.decode.vectorized import VEC_ENTRIES
    from pincspark.functions.nmea import Bits
    from pincspark.plans import queries as Q
    from tests.conftest import SF_DIR

    fork = next(
        specs for family, _, _, _, specs in VEC_ENTRIES
        if family == "bin_broadcast" and any(s[0] == "airTemperature" for s in specs)
    )
    met_hydro = [s[0] for s in fork if s[0] not in ("dac", "fid", "longitude", "latitude")]
    assert len(met_hydro) == 35

    expected = {}
    for payload in Q.WEATHER_PAYLOADS:
        rec = decode_message(Bits.from_payload(payload))
        expected[payload] = {**rec, **rec["payload_fields"]}

    import pytest as _pytest

    for r in Q.q49_weather_decode_sql(spark, SF_DIR).collect():
        exp = expected[r["payload"]]
        assert r["message_type"] == exp["messageType"] == 8
        assert r["mmsi"] == exp["mmsi"]
        assert r["dac"] == 1 and r["fid"] == 31
        assert r["longitude"] == _pytest.approx(exp["longitude"])
        assert r["latitude"] == _pytest.approx(exp["latitude"])
        for name in met_hydro:
            assert r[name] == exp[name], (name, r[name], exp[name])


def test_weather_sql_descs_match_reference_golden(spark):
    """The q49 desc strings reproduce the reference's own decoded output
    (tests/golden/reference_decoded.json) for the golden weather sentence."""
    from pincspark.plans import queries as Q
    from tests.conftest import SF_DIR

    golden = next(r for r in GOLDEN if r["common"]["messageType"] == 8)
    row = (
        Q.q49_weather_decode_sql(spark, SF_DIR)
        .filter(F.col("payload") == Q.WEATHER_PAYLOADS[0])
        .collect()[0]
    )
    for k in (
        "positionAccuracyDesc",
        "airPressureTendencyDesc",
        "waterLevelTrendDesc",
        "seaStateDesc",
        "precipitationDesc",
        "iceDesc",
    ):
        assert row[k] == golden["body"][k], (k, row[k], golden["body"][k])


def test_aux_text_family_sql_decode_matches_python_kernel(spark):
    """q94/q95's pure-SQL decode of the remaining families — 4/9/15/16/17
    (aux) and 12/14/19/21 (text) — agrees field-by-field with the Python
    kernel's family decoders on the same payloads. This is also the
    round-trip pin for the five SYNTHESIZED payloads (no type 12/14/15/
    16/17 exists in the golden corpus): a mis-packed literal would decode
    to garbage here before it could silently gate the driver row."""
    import pytest as _pytest

    from pincspark.decode.families import decode_message
    from pincspark.functions.nmea import Bits
    from pincspark.plans import queries as Q
    from tests.conftest import SF_DIR

    expected = {}
    for payload in (
        Q.BASE_STATION_PAYLOAD, Q.SAR_AIRCRAFT_PAYLOAD,
        Q.INTERROGATION_PAYLOAD, Q.ASSIGNMENT_PAYLOAD, Q.DGNSS_PAYLOAD,
        Q.SAFETY_ADDRESSED_PAYLOAD, Q.SAFETY_BROADCAST_PAYLOAD,
        Q.CLASSB_EXT_PAYLOAD, Q.ATON_PAYLOAD,
    ):
        rec = decode_message(Bits.from_payload(payload))
        expected[payload] = {**rec, **rec["payload_fields"]}

    # per message type: {output column: kernel field}
    col_map = {
        4: {"utc_year": "utc_year", "utc_month": "utc_month",
            "utc_day": "utc_day", "utc_hour": "utc_hour",
            "utc_minute": "utc_minute", "utc_second": "utc_second",
            "epfd": "epfd", "longitude": "longitude",
            "latitude": "latitude"},
        9: {"altitude": "altitude", "sog": "sog", "cog": "cog",
            "longitude": "longitude", "latitude": "latitude"},
        15: {"dest_mmsi": "mmsi1", "itype1": "type1_1",
             "offset1": "offset1_1", "mmsi2": "mmsi2"},
        16: {"dest_mmsi": "mmsi1", "offset1": "offset1",
             "increment1": "increment1", "mmsi2": "mmsi2"},
        17: {"dgnss_lon": "longitude", "dgnss_lat": "latitude",
             "dgnss_data": "data"},
        12: {"seq_no": "seqNo", "dest_mmsi": "dest_mmsi",
             "safety_text": "text"},
        14: {"safety_text": "text"},
        19: {"name_text": "shipName", "ship_type": "shipType",
             "sog": "sog", "longitude": "longitude",
             "latitude": "latitude", "heading": "trueHeading",
             "to_bow": "to_bow"},
        21: {"name_text": "aidName", "aid_type": "aidType",
             "longitude": "longitude", "latitude": "latitude",
             "to_bow": "to_bow", "virtual_aid": "virtualAid",
             "utc_second": "utc_second"},
    }
    rows = (
        Q.q94_aux_families_sql(spark, SF_DIR).collect()
        + Q.q95_text_families_sql(spark, SF_DIR).collect()
    )
    assert len(rows) == 9
    seen = set()
    for r in rows:
        exp = expected[r["payload"]]
        mt = exp["messageType"]
        seen.add(mt)
        assert r["message_type"] == mt
        assert r["mmsi"] == exp["mmsi"]
        for col, field in col_map[mt].items():
            got, want = r[col], exp[field]
            if isinstance(want, float):
                assert got == _pytest.approx(want), (mt, col, got, want)
            else:
                assert got == want, (mt, col, got, want)
    assert seen == {4, 9, 15, 16, 17, 12, 14, 19, 21}


def _with_bits(payload: str, start: int, length: int, value: int) -> str:
    """``payload`` with bits [start, start + length) set to ``value``."""
    from pincspark.functions.nmea import ARMORING

    bits = "".join(format(ARMORING.index(c), "06b") for c in payload)
    bits = bits[:start] + format(value, f"0{length}b") + bits[start + length:]
    return "".join(ARMORING[int(bits[i:i + 6], 2)] for i in range(0, len(bits), 6))


def test_decode_sql_matches_python_kernel_for_every_spec_field(spark):
    """kernel.decode_sql — the generator behind the catalog's SQL decode
    twins — agrees with decode_payload on every U/I/OPT/TEXT field of every
    VEC_ENTRIES entry, in one Spark job. Payloads: the golden corpus and
    the catalog's own literals, plus five copies with a routing field
    rewritten for the forks no literal reaches (type-24 mothership, type-8
    generic and DAC1/FID29, type-6 generic and DAC250/FID10). Every payload
    is checked on every field, so a field of another family or fork must
    be NULL. Spans a payload does not cover are skipped (SQL NULL vs the
    kernel's clamp, divergence D5)."""
    from pincspark.decode.kernel import armor_vals_sql, decode_payload, decode_sql
    from pincspark.decode.vectorized import I, OPT, TEXT, U, VEC_ENTRIES
    from pincspark.plans import queries as Q

    payloads = {"".join(s.split(",")[5] for s in r["sentences"]) for r in GOLDEN}
    payloads |= {
        *Q.POSITION_PAYLOADS, Q.STATIC_VOYAGE_PAYLOAD, Q.CLASSB_PAYLOAD,
        Q.LONG_RANGE_PAYLOAD, *Q.STATIC_REPORT_PAYLOADS, *Q._Q94_PAYLOADS,
        *Q._Q95_PAYLOADS, *Q.WEATHER_PAYLOADS, *Q.TYPE6_533_PAYLOADS,
    }
    type6 = Q.TYPE6_533_PAYLOADS[0]
    payloads |= {
        _with_bits(Q.STATIC_REPORT_PAYLOADS[0], 8, 30, 0),  # part B, mmsi 0
        _with_bits(Q.WEATHER_PAYLOADS[0], 50, 6, 30),  # fid 30
        _with_bits(Q.WEATHER_PAYLOADS[0], 50, 6, 29),  # fid 29
        _with_bits(type6, 82, 6, 7),  # fid 7
        _with_bits(_with_bits(type6, 72, 10, 250), 82, 6, 10),  # DAC250/FID10
    }
    payloads = sorted(payloads)

    fields = {}  # (family, field) -> column name
    for family, _, _, _, specs in VEC_ENTRIES:
        for name, *_ in specs:
            kinds = {
                s[1] for fam, _, _, _, sp in VEC_ENTRIES if fam == family
                for s in sp if s[0] == name
            }
            if kinds <= {U, I, OPT, TEXT}:
                fields.setdefault((family, name), f"c{len(fields)}")
    df = spark.createDataFrame([(p,) for p in payloads], "payload STRING")
    df = df.withColumn("__vals", F.expr(armor_vals_sql("payload"))).select(
        "payload",
        *[
            F.expr(decode_sql([src], "payload", "spark", "__vals")).alias(col)
            for src, col in fields.items()
        ],
    )

    routed, compared = set(), 0
    for r in df.collect():
        p = r["payload"]
        rec = decode_payload(p)
        entry = next(
            (
                (i, {s[0]: s for s in specs})
                for i, (fam, _, _, _, specs) in enumerate(VEC_ENTRIES)
                if fam == rec["family"] and {s[0] for s in specs} == set(rec[fam])
            ),
            None,
        )
        if entry is not None:
            routed.add(entry[0])
        for (family, field), col in fields.items():
            got = r[col]
            if entry is None or family != rec["family"] or field not in entry[1]:
                assert got is None, (p, family, field, got)
                continue
            _, _, start, length, _ = entry[1][field]
            if 6 * len(p) < start + length:
                continue
            want = rec[family][field]
            if isinstance(want, float):
                assert got == pytest.approx(want), (p, family, field, got, want)
            else:
                assert got == want, (p, family, field, got, want)
            compared += 1
    assert routed == set(range(len(VEC_ENTRIES)))
    assert compared > 300
