"""Streaming stateful operator tests (ST1 reassembly, ST2 zone tracking,
J5 upsert sink) driven through real Structured Streaming queries on file
sources with memory sinks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.test_geo import winding_inside
from pincspark.operators.geo import load_zone_data


def _start_and_drain(query):
    query.processAllAvailable()
    query.stop()


def test_st1_streaming_reassembly(spark, tmp_path):
    from pincspark.streaming.reassembly import reassemble_stream

    src = tmp_path / "frags"
    src.mkdir()
    rows = [
        # complete 2-part group on seq 9
        (9, "A", 2, 1, "58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l", "tagA"),
        (9, "A", 2, 2, "PAiH8888880", "tagA2"),
        # singleton
        (7, "A", 1, 1, "15R9eN001n7DHvT13w0TBSM>00Rm", "tagB"),
        # incomplete group (never completes)
        (5, "B", 3, 1, "XXXX", "tagC"),
        # complete but duplicate part numbers -> dropped
        (4, "B", 2, 1, "YYYY", "tagD"),
        (4, "B", 2, 1, "ZZZZ", "tagD"),
    ]
    df = spark.createDataFrame(
        rows, "seq_id INT, channel STRING, total INT, num INT, payload STRING, tagblock STRING"
    )
    df.write.parquet(str(src / "batch1"))

    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    q = (
        reassemble_stream(stream, timeout_ms=None)
        .writeStream.format("memory")
        .queryName("st1_out")
        .outputMode("append")
        .start()
    )
    _start_and_drain(q)
    out = {r["seq_id"]: r for r in spark.sql("SELECT * FROM st1_out").collect()}
    assert set(out) == {9, 7}
    assert out[9]["n_sentences"] == 2
    assert out[9]["payload"].endswith("PAiH8888880")
    assert out[9]["tagblock"] == "tagA"
    assert out[7]["payload"] == "15R9eN001n7DHvT13w0TBSM>00Rm"


def test_st1_stream_vs_batch_on_reassembly_contract_corpus(spark, tmp_path):
    """Run the q88 adversarial corpus (REASSEMBLY_ARCHIVE) through the
    STREAMING reassembly chain and pin, case by case, where the keyed-state
    operator agrees with the batch adjacency operator and where the two
    deliberately diverge:

    - AGREE (emitted by both, identical payloads): the singleton, the
      golden 2-part, the 3-part, the tagblock-less M pair; and neither
      side emits the incomplete D orphan or the checksum-corrupt E pair.
    - STREAM-ONLY: out-of-order (F), interleaved (I/J), and non-adjacent
      (K, L) groups — keyed state buffers per (seq_id, channel) and does
      not require adjacency; on a LIVE feed these are real messages
      (interleaving across slots is normal on-air behavior), while the
      batch operator's adjacency key + splice guard must drop them
      because a file archive offers no per-connection framing.
    - BATCH-ONLY: the H pair — its duplicate num=1 predecessor (G)
      poisons the stream buffer for key (5, A) (exactly the reference
      ingress behavior: a corrupt buffer drops wholesale,
      ais_ingressServer.py:84-106), while batch adjacency pairs the two
      H fragments and orphans G.
    """
    from pincspark.plans.queries import REASSEMBLY_ARCHIVE, QUERIES
    from pincspark.sources.nmea_source import tokenize_sentences
    from pincspark.decode.kernel import checksum_valid
    from pincspark.streaming.reassembly import reassemble_stream

    src = tmp_path / "lines"
    src.mkdir()
    # one file, written in corpus order (single input split -> the state
    # operator sees each key's fragments in arrival order)
    (src / "feed.txt").write_text("\n".join(REASSEMBLY_ARCHIVE) + "\n")

    raw = spark.readStream.format("text").load(str(src))
    df = (
        raw.filter(F.col("value") != "")
        .withColumn("bang", F.instr(F.col("value"), "!"))
        .filter(F.col("bang") > 0)
        .select(
            F.expr("substring(value, 1, bang - 1)").alias("tagblock"),
            F.expr("substring(value, bang, 1000000)").alias("sentence"),
        )
    )
    df = tokenize_sentences(df).filter(checksum_valid(F.col("sentence")))
    q = (
        reassemble_stream(df, timeout_ms=None)
        .writeStream.format("memory")
        .queryName("st1_corpus")
        .outputMode("append")
        .start()
    )
    _start_and_drain(q)
    stream = {
        (r["seq_id"], r["channel"]): r["payload"]
        for r in spark.sql("SELECT * FROM st1_corpus").collect()
    }

    golden = (
        "58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l"
        "PAiH8888880"
    )
    assert stream == {
        (7, "A"): "15R9eN001n7DHvT13w0TBSM>00Rm",
        (9, "A"): golden,
        (4, "A"): "A111111111B2222C33",
        (0, "A"): "M1111111M22",
        # stream-only: no adjacency requirement
        (3, "B"): "F1111111F22",
        (6, "A"): "I1111111I22",
        (7, "B"): "J1111111J22",
        (8, "A"): "K1111111K22",
        (9, "B"): "L1111111L22",
    }

    batch = {
        r["seq_id"]: r["payload"]
        for r in QUERIES["q88_reassembly_contract"][0](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert batch == {
        7: "15R9eN001n7DHvT13w0TBSM>00Rm",
        9: golden,
        4: "A111111111B2222C33",
        0: "M1111111M22",
        5: "H1111111H22",  # batch-only (stream buffer poisoned by G)
    }
    # the messages BOTH sides emit are payload-identical
    common = {7: stream[(7, "A")], 9: stream[(9, "A")],
              4: stream[(4, "A")], 0: stream[(0, "A")]}
    assert all(batch[k] == v for k, v in common.items())


@pytest.fixture(scope="module")
def zone_points():
    zones = {z["zone_id"]: z["coordinates"] for z in load_zone_data()}

    def find_inside(zone_id):
        ring = zones[zone_id]
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        for i in range(400):
            x = min(xs) + (max(xs) - min(xs)) * (i % 20) / 20.0
            y = min(ys) + (max(ys) - min(ys)) * (i // 20) / 20.0
            inside = winding_inside(x, y, ring)
            other = winding_inside(x, y, zones[3 - zone_id])
            if inside and not other:
                return (x, y)
        raise AssertionError("no interior point found")

    return {"north": find_inside(1), "south": find_inside(2), "outside": (0.0, 0.0)}


def test_st2_zone_transitions_stream_and_batch(spark, tmp_path, zone_points):
    from pincspark.operators.geo import zones_df
    from pincspark.streaming.zones import (
        occupancy_summary,
        track_zone_transitions,
        track_zone_transitions_batch,
        with_zone_flags,
    )

    n, s, o = zone_points["north"], zone_points["south"], zone_points["outside"]
    t0 = 1700000000
    # vessel 111: outside -> N -> N -> outside -> S (FIXTURES B5 script)
    # vessel 222: N -> disappears (stays in)
    rows = [
        (111, t0 + 0, *o), (111, t0 + 60, *n), (111, t0 + 120, *n),
        (111, t0 + 180, *o), (111, t0 + 240, *s),
        (222, t0 + 30, *n),
    ]
    df = spark.createDataFrame(
        rows, "mmsi BIGINT, epoch BIGINT, longitude DOUBLE, latitude DOUBLE"
    ).withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")

    flagged = with_zone_flags(df, zones_df(spark))

    # batch twin
    trans_b = track_zone_transitions_batch(flagged)
    got_b = {(r["mmsi"], r["zone_id"], r["event"]) for r in trans_b.collect()}
    assert got_b == {
        (111, 1, "enter"), (111, 1, "exit"), (111, 2, "enter"),
        (222, 1, "enter"),
    }

    occ = {r["zone_id"]: r for r in occupancy_summary(trans_b).collect()}
    assert occ[1]["currently_in"] == 1 and occ[1]["cumulative_exits"] == 1
    assert occ[2]["currently_in"] == 1 and occ[2]["cumulative_exits"] == 0

    # streaming path produces identical transitions
    src = tmp_path / "pos"
    src.mkdir()
    flagged.write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(flagged.schema).parquet(str(src / "*"))
    q = (
        track_zone_transitions(stream, timeout_ms=None)
        .writeStream.format("memory")
        .queryName("st2_out")
        .outputMode("append")
        .start()
    )
    _start_and_drain(q)
    got_s = {
        (r["mmsi"], r["zone_id"], r["event"])
        for r in spark.sql("SELECT * FROM st2_out").collect()
    }
    assert got_s == got_b


def test_st2_transform_with_state_variant(spark, tmp_path, zone_points):
    """The modern-API (transformWithState) tracker emits the same
    transitions as the applyInPandasWithState one. Requires protobuf
    (the transformWithState control channel)."""
    pytest.importorskip("google.protobuf.descriptor")
    from pincspark.operators.geo import zones_df
    from pincspark.streaming.zones import (
        track_zone_transitions_batch,
        track_zone_transitions_tws,
        with_zone_flags,
    )

    n, s, o = zone_points["north"], zone_points["south"], zone_points["outside"]
    t0 = 1700000000
    rows = [
        (111, t0 + 0, *o), (111, t0 + 60, *n), (111, t0 + 120, *o),
        (222, t0 + 30, *s),
    ]
    df = spark.createDataFrame(
        rows, "mmsi BIGINT, epoch BIGINT, longitude DOUBLE, latitude DOUBLE"
    ).withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    flagged = with_zone_flags(df, zones_df(spark))

    src = tmp_path / "pos_tws"
    src.mkdir()
    flagged.write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(flagged.schema).parquet(str(src / "*"))
    q = (
        track_zone_transitions_tws(stream)
        .writeStream.format("memory")
        .queryName("tws_out")
        .outputMode("append")
        .start()
    )
    _start_and_drain(q)
    got = {
        (r["mmsi"], r["zone_id"], r["event"])
        for r in spark.sql("SELECT * FROM tws_out").collect()
    }
    want = {
        (r["mmsi"], r["zone_id"], r["event"])
        for r in track_zone_transitions_batch(flagged).collect()
    }
    assert got == want


def test_append_stream_warehouse_sink(spark, tmp_path):
    """ST3 e2e: decoded stream -> position fact table parquet via
    append_stream with checkpointing (the ClickHouse bulk-insert analog)."""
    import json
    import os

    from pincspark.egress import position_table
    from pincspark.sources.nmea_source import read_and_decode_stream
    from pincspark.streaming.sinks import append_stream

    golden = json.load(
        open(os.path.join(os.path.dirname(__file__), "golden", "reference_decoded.json"))
    )
    feed = tmp_path / "feed"
    feed.mkdir()
    TAG = "\\s:rSINK,c:1673222400,i:X*32"
    (feed / "a.txt").write_text(
        "\n".join(TAG + s for r in golden for s in r["sentences"]) + "\n"
    )

    decoded = read_and_decode_stream(spark, str(feed), timeout_ms=None)
    q = append_stream(
        position_table(decoded),
        path=str(tmp_path / "fact"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    fact = spark.read.parquet(str(tmp_path / "fact"))
    n_pos = sum(1 for r in golden if r["common"]["messageType"] in (1, 2, 3))
    assert fact.count() == n_pos
    assert {"mmsi", "sog", "longitude", "latitude"} <= set(fact.columns)


def test_upsert_latest(spark, tmp_path):
    from pincspark.streaming.sinks import upsert_latest

    path = str(tmp_path / "state")
    b1 = spark.createDataFrame(
        [("t1", 1.0, 100), ("t2", 2.0, 100)], "Id STRING, Lat DOUBLE, UpdateTime INT"
    )
    b2 = spark.createDataFrame(
        [("t1", 9.0, 200), ("t3", 3.0, 150)], "Id STRING, Lat DOUBLE, UpdateTime INT"
    )
    upsert_latest(spark, b1, path, "Id", "UpdateTime")
    upsert_latest(spark, b2, path, "Id", "UpdateTime")
    got = {r["Id"]: (r["Lat"], r["UpdateTime"]) for r in spark.read.parquet(path).collect()}
    assert got == {"t1": (9.0, 200), "t2": (2.0, 100), "t3": (3.0, 150)}


def test_dedupe_stream_matches_batch(spark, tmp_path):
    """Streaming exact dedup (dedupe_stream -> dropDuplicatesWithinWatermark,
    the training-pipeline ingest dedup): a parquet-file stream with
    duplicate fingerprints across micro-batches keeps exactly one row per
    key, matching the batch dropDuplicates result on the same frames —
    and the duplicate arriving in a LATER micro-batch is still caught
    (cross-batch state, not per-batch dedup)."""
    import pandas as pd

    from pincspark.streaming.windows import dedupe_stream

    src = tmp_path / "docs"
    src.mkdir()
    rows1 = pd.DataFrame(
        {
            "fp": ["a", "b", "a", "c"],
            "doc_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2023-01-01 10:00", "2023-01-01 10:01",
                 "2023-01-01 10:02", "2023-01-01 10:03"]
            ),
        }
    )
    rows2 = pd.DataFrame(
        {
            "fp": ["b", "d", "c"],  # b and c are cross-batch duplicates
            "doc_id": [5, 6, 7],
            "ts": pd.to_datetime(
                ["2023-01-01 10:04", "2023-01-01 10:05", "2023-01-01 10:06"]
            ),
        }
    )
    batch1 = spark.createDataFrame(rows1)
    batch1.write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(batch1.schema).parquet(str(src / "*"))
    q = (
        dedupe_stream(stream, ["fp"], "ts", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2).write.parquet(str(src / "b2"))
        q.processAllAvailable()
        got = {
            (r["fp"], r["doc_id"])
            for r in spark.sql("SELECT fp, doc_id FROM dedup_out").collect()
        }
    finally:
        q.stop()
    # exactly one survivor per fingerprint; which of two duplicates in
    # the SAME micro-batch survives is not guaranteed (partition order),
    # but a duplicate arriving in a LATER batch must always lose to the
    # already-seen state
    assert {fp for fp, _ in got} == {"a", "b", "c", "d"}
    assert len(got) == 4
    assert ("b", 5) not in got and ("c", 7) not in got  # cross-batch drops
    assert ("d", 6) in got
    assert next(d for fp, d in got if fp == "a") in (1, 3)  # same-batch pair

    # batch degradation path keeps one row per key on the union frame
    union = spark.createDataFrame(pd.concat([rows1, rows2]))
    batch = dedupe_stream(union, ["fp"], "ts")
    assert batch.select("fp").distinct().count() == batch.count() == 4


def test_sketch_sink_stream_matches_batch(spark, tmp_path):
    """Streaming KMV sketch maintenance e2e: a parquet-file stream folded
    into a persisted sketch table via foreach_batch_sketch is hash-
    identical to sketching all rows in one batch — distinct-count state
    that never rescans history (the q75/q76 steady state under
    Structured Streaming)."""
    import pandas as pd

    from pincspark.operators.sketches import kmv_estimate, kmv_sketch
    from pincspark.streaming.sinks import foreach_batch_sketch

    src = tmp_path / "ev"
    src.mkdir()
    mk = lambda lo, hi: pd.DataFrame(
        {"grp": ["g"] * (hi - lo), "val": [f"v{i}" for i in range(lo, hi)]}
    )
    b1, b2 = mk(0, 300), mk(150, 500)  # 150 overlapping values across batches
    spark.createDataFrame(b1).write.parquet(str(src / "b1"))

    sk_path = str(tmp_path / "sketch")
    stream = spark.readStream.schema("grp string, val string").parquet(str(src / "*"))
    q = (
        stream.writeStream.foreachBatch(foreach_batch_sketch(sk_path, ["grp"], "val", k=64))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2).write.parquet(str(src / "b2"))
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = sorted(r["h"] for r in spark.read.parquet(sk_path).collect())
    rebuilt = sorted(
        r["h"]
        for r in kmv_sketch(
            spark.createDataFrame(pd.concat([b1, b2])), ["grp"], "val", k=64
        ).collect()
    )
    assert streamed == rebuilt and len(streamed) == 64
    est = kmv_estimate(spark.read.parquet(sk_path), ["grp"], k=64).collect()[0]
    assert abs(est["est_distinct"] - 500) / 500 < 0.35  # 1/sqrt(64) ~ 12.5% stderr


def test_scd2_sink_stream_matches_batch(spark, tmp_path):
    """Streaming SCD2 maintenance e2e: in-order change events over two
    micro-batches folded via foreach_batch_scd2 produce the identical
    version table to a one-shot rebuild from all events."""
    import pandas as pd

    from pincspark.operators.scd import scd2_from_events
    from pincspark.streaming.sinks import foreach_batch_scd2

    src = tmp_path / "chg"
    src.mkdir()
    b1 = pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-03", "2024-01-02"]),
            "state": ["x", "x", "p"],  # a's second event collapses
        }
    )
    b2 = pd.DataFrame(
        {
            "k": ["a", "b"],
            "ts": pd.to_datetime(["2024-01-04", "2024-01-05"]),
            "state": ["y", "q"],
        }
    )
    spark.createDataFrame(b1).write.parquet(str(src / "b1"))

    dim_path = str(tmp_path / "dim")
    stream = spark.readStream.schema("k string, ts timestamp, state string").parquet(
        str(src / "*")
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_scd2(dim_path, ["k"], "ts", ["state"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2).write.parquet(str(src / "b2"))
        q.processAllAvailable()
    finally:
        q.stop()

    def canon(df):
        return sorted(
            (r["k"], r["state"], str(r["eff_from"]), str(r["eff_to"]))
            for r in df.collect()
        )

    rebuilt = scd2_from_events(
        spark.createDataFrame(pd.concat([b1, b2])), ["k"], "ts", ["state"]
    )
    assert canon(spark.read.parquet(dim_path)) == canon(rebuilt)
    a = [(s, f[:10], t[:10]) for k, s, f, t in canon(spark.read.parquet(dim_path)) if k == "a"]
    assert a == [("x", "2024-01-01", "2024-01-04"), ("y", "2024-01-04", "None")]


def test_scd2_merge_late_event_contract(spark):
    """The documented late-data contract: a late different-state event
    splits the old interval at retained change points, but a same-state
    observation that collapsed as a no-op is NOT resurrected — the
    version history (not the raw log) is the merge's source of truth."""
    import pandas as pd

    from pincspark.operators.scd import scd2_from_events, scd2_merge

    prefix = pd.DataFrame(
        {
            "k": ["a", "a"],
            "ts": pd.to_datetime(["2024-01-01", "2024-01-03"]),
            "state": ["x", "x"],  # collapses to one x version
        }
    )
    late = pd.DataFrame(
        {"k": ["a"], "ts": pd.to_datetime(["2024-01-02"]), "state": ["y"]}
    )
    dim = scd2_from_events(spark.createDataFrame(prefix), ["k"], "ts", ["state"])
    merged = scd2_merge(dim, spark.createDataFrame(late), ["k"], "ts", ["state"])
    got = sorted(
        (r["state"], str(r["eff_from"])[:10], str(r["eff_to"])[:10])
        for r in merged.collect()
    )
    # x@03 was a collapsed no-op: y runs to current, x is NOT re-split
    assert got == [("x", "2024-01-01", "2024-01-02"), ("y", "2024-01-02", "None")]


def test_checkpoint_restart_no_double_count(spark, tmp_path):
    """Exactly-once resumption: a foreachBatch sink maintained through a
    STOP + RESTART from the same checkpoint neither loses nor re-applies
    micro-batches — files ingested before the stop are not replayed into
    the persisted state after it. This is the recovery contract a
    100-TB ingest leans on every deploy."""
    import pandas as pd

    from pincspark.operators.sketches import kmv_estimate
    from pincspark.streaming.sinks import foreach_batch_sketch

    src = tmp_path / "ev"
    src.mkdir()
    mk = lambda lo, hi: pd.DataFrame(
        {"grp": ["g"] * (hi - lo), "val": [f"v{i}" for i in range(lo, hi)]}
    )
    spark.createDataFrame(mk(0, 100)).write.parquet(str(src / "b1"))

    sk_path, ckpt = str(tmp_path / "sk"), str(tmp_path / "ckpt")

    def start():
        return (
            spark.readStream.schema("grp string, val string")
            .parquet(str(src / "*"))
            .writeStream.foreachBatch(foreach_batch_sketch(sk_path, ["grp"], "val", k=64))
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # new data lands while the stream is DOWN
    spark.createDataFrame(mk(100, 150)).write.parquet(str(src / "b2"))

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    est = kmv_estimate(spark.read.parquet(sk_path), ["grp"], k=64).collect()[0]
    # 150 distinct values; k=64 estimator path; the KEY property is that a
    # replay of b1 would change nothing (sketch is idempotent) but a LOST
    # b2 would cap n_kept at the b1 state. Assert the merged state saw
    # both batches:
    assert est["n_kept"] == 64
    hashes_after = sorted(r["h"] for r in spark.read.parquet(sk_path).collect())
    from pincspark.operators.sketches import kmv_sketch

    expect = sorted(
        r["h"]
        for r in kmv_sketch(
            spark.createDataFrame(pd.concat([mk(0, 100), mk(100, 150)])),
            ["grp"], "val", k=64,
        ).collect()
    )
    assert hashes_after == expect


def test_zone_table_drives_all_st2_variants(spark, monkeypatch, zone_points):
    """ADVICE r10 #5: the melt structs / state schema / flag columns all
    derive from the zone table — a zone ADDED to load_zone_data is tracked
    by the batch twin automatically (previously: silently no transitions
    for it, and q91's flagging loop would KeyError)."""
    import pincspark.streaming.zones as Z
    from pincspark.operators.geo import load_zone_data

    extra = {
        "zone_id": 3,
        "zone_name": "TSS-Test",
        # a unit square around (10, 10), ring closed like the stock zones
        "coordinates": [[9, 9], [11, 9], [11, 11], [9, 11], [9, 9]],
    }
    zones3 = load_zone_data() + [extra]
    monkeypatch.setattr(Z, "load_zone_data", lambda: zones3)
    flags = Z.zone_flag_cols()
    assert flags[:2] == [(1, "in_north"), (2, "in_south")]
    assert flags[2] == (3, "in_zone3")  # no flag_col in the entry: default

    n = zone_points["north"]
    rows = [(999, 1700000000, *n), (999, 1700000060, 10.0, 10.0)]
    df = (
        spark.createDataFrame(
            rows, "mmsi BIGINT, epoch BIGINT, longitude DOUBLE, latitude DOUBLE"
        )
        .withColumn("ts", F.timestamp_seconds("epoch"))
        .drop("epoch")
    )
    zdf = spark.createDataFrame(
        [
            (z["zone_id"], z["zone_name"],
             [(float(x), float(y)) for x, y in z["coordinates"]])
            for z in zones3
        ],
        "zone_id INT, zone_name STRING, verts ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>",
    )
    flagged = Z.with_zone_flags(df, zdf)
    assert "in_zone3" in flagged.columns
    got = {
        (r["zone_id"], r["event"])
        for r in Z.track_zone_transitions_batch(flagged).collect()
    }
    # north enter, then north exit + zone-3 enter on the second fix
    assert got == {(1, "enter"), (1, "exit"), (3, "enter")}

    # the STREAMING tracker must track the third zone too — its state
    # schema is derived at CALL time (an import-time schema with a
    # call-time flag list would desync width 2 vs 3 and crash the state
    # update)
    import tempfile

    with tempfile.TemporaryDirectory() as tdir:
        flagged.write.parquet(f"{tdir}/b1")
        stream = spark.readStream.schema(flagged.schema).parquet(f"{tdir}/*")
        q = (
            Z.track_zone_transitions(stream, timeout_ms=None)
            .writeStream.format("memory")
            .queryName("st2_zone3")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got_s = {
            (r["zone_id"], r["event"])
            for r in spark.sql("SELECT * FROM st2_zone3").collect()
        }
        assert got_s == got


# ---------------------------------------------------------------------------
# Streaming encounters twin (VERDICT r12 #6)
# ---------------------------------------------------------------------------


def _encounter_fixes(spark):
    """Deterministic fix set exercising every encounter regime: same-cell
    close pair (101/102), close pairs straddling a cy and a cx cell
    boundary (103/104, 105/106), a same-cell pair just OUTSIDE the 5 km
    radius (101/108 at ~5.1 km — candidate generated, exact filter must
    drop it), an isolated vessel (107), and a second bucket where 101/102
    stay close but 103 has left."""
    t0 = 1700000000
    rows = [
        # bucket 0
        (101, t0 + 10, 1.000, 100.500),
        (102, t0 + 20, 1.010, 100.500),   # ~1.1 km from 101, same cell
        (103, t0 + 30, 1.049, 100.700),   # cy 20 | pair straddles cy boundary
        (104, t0 + 40, 1.051, 100.700),   # cy 21, ~0.2 km from 103
        (105, t0 + 50, 1.000, 100.549),   # cx 2010 | pair straddles cx boundary
        (106, t0 + 60, 1.000, 100.551),   # cx 2011, ~0.2 km from 105
        (107, t0 + 70, 1.200, 100.500),   # isolated (~22 km from 101)
        (108, t0 + 80, 1.000, 100.546),   # ~5.1 km from 101: candidate, filtered
        # bucket 1
        (101, t0 + 3700, 1.000, 100.500),
        (102, t0 + 3710, 1.005, 100.500),  # still close
        (103, t0 + 3720, 1.400, 100.700),  # left the area
    ]
    return spark.createDataFrame(
        rows, "mmsi BIGINT, epoch BIGINT, latitude DOUBLE, longitude DOUBLE"
    ).withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")


def test_encounters_stream_matches_batch(spark, tmp_path):
    """The streaming encounter detector, pair-aggregated, reproduces the
    batch `encounters` table exactly — including cross-micro-batch pairs
    (each vessel's fixes land in a separate file, one file per trigger,
    so every pair's members arrive in DIFFERENT micro-batches and must
    meet through the (bucket, cell) group state)."""
    from pincspark.operators.geo import encounters
    from pincspark.streaming.encounters import encounters_stream

    fixes = _encounter_fixes(spark)
    want = {
        (r["mmsi_a"], r["mmsi_b"], r["n_close"], r["min_dist_m"], r["first_bkt"], r["last_bkt"])
        for r in encounters(fixes).collect()
    }
    # sanity on the fixture itself: close pairs present, 101/108 filtered
    pairs = {(a, b) for (a, b, *_rest) in want}
    assert {(101, 102), (103, 104), (105, 106)} <= pairs
    assert (101, 108) not in pairs and all(107 not in p for p in pairs)
    assert next(n for (a, b, n, *_r) in want if (a, b) == (101, 102)) == 2

    src = tmp_path / "fixes"
    src.mkdir()
    for i, r in enumerate(fixes.collect()):
        spark.createDataFrame([r], fixes.schema).write.parquet(str(src / f"f{i:02d}"))

    stream = (
        spark.readStream.schema(fixes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        encounters_stream(stream, timeout_ms=None)
        .writeStream.format("memory")
        .queryName("enc_out")
        .outputMode("append")
        .start()
    )
    _start_and_drain(q)
    got = {
        tuple(r)
        for r in spark.sql(
            """SELECT mmsi_a, mmsi_b, COUNT(*) AS n_close, MIN(dist_m) AS min_dist_m,
                      MIN(bkt) AS first_bkt, MAX(bkt) AS last_bkt
               FROM enc_out GROUP BY mmsi_a, mmsi_b"""
        ).collect()
    }
    assert got == want


def test_route_fixes_ts_column_with_a_space(spark):
    """The streaming router buckets time through F.col(ts_col): a ts column
    whose name holds a space routes exactly like the default name."""
    from pincspark.streaming.encounters import route_fixes

    fixes = _encounter_fixes(spark)
    want = sorted(map(tuple, route_fixes(fixes).collect()))
    spaced = fixes.withColumnRenamed("ts", "fix ts")
    got = sorted(map(tuple, route_fixes(spaced, ts_col="fix ts").collect()))
    assert got == want and len(got) == 10 * fixes.count()


def test_encounters_stream_replay_guard(spark, tmp_path):
    """Re-delivering the same fixes (source-level at-least-once) must not
    duplicate pair events: the state function's first-seen guard drops
    replayed (key, role) rows inside each (bucket, cell) group."""
    from pincspark.streaming.encounters import encounters_stream

    fixes = _encounter_fixes(spark)
    src = tmp_path / "fixes_replay"
    src.mkdir()
    fixes.write.parquet(str(src / "b1"))
    fixes.write.parquet(str(src / "b2"))  # exact replay in a later file

    stream = (
        spark.readStream.schema(fixes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        encounters_stream(stream, timeout_ms=None)
        .writeStream.format("memory")
        .queryName("enc_replay")
        .outputMode("append")
        .start()
    )
    _start_and_drain(q)
    rows = spark.sql("SELECT mmsi_a, mmsi_b, bkt FROM enc_replay").collect()
    assert len(rows) == len({tuple(r) for r in rows})  # no duplicate pair-bucket events


# ---------------------------------------------------------------------------
# Streaming incremental dedup (live-crawl screen against the snapshot)
# ---------------------------------------------------------------------------


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """incremental_dedup_narrow runs UNCHANGED on a streaming new-doc
    frame (per-row fingerprint + HOF signatures, stream-static joins
    only, no stream-side aggregation) and, drained over one-document
    micro-batches, emits exactly the batch operator's rows — the
    screen-the-crawl-as-it-lands steady state."""
    from tests.test_incremental_dedup import NEW, PRIOR
    from pincspark.operators.dedup import (
        dedup_snapshot,
        incremental_dedup,
        incremental_dedup_narrow,
        snapshot_band_buckets,
    )

    prior = spark.createDataFrame(PRIOR, ["doc_id", "text"])
    new = spark.createDataFrame(NEW, ["doc_id", "text"])
    snap = dedup_snapshot(prior, "doc_id", "text", n=3, num_perms=16)
    # persist the serving tables the way production would: snapshot +
    # pre-grouped band buckets, read back from parquet
    snap_p, buckets_p = str(tmp_path / "snap"), str(tmp_path / "buckets")
    snap.write.parquet(snap_p)
    snapshot_band_buckets(snap).write.parquet(buckets_p)
    snap_static = spark.read.parquet(snap_p)
    buckets_static = spark.read.parquet(buckets_p)

    want = sorted(
        map(
            tuple,
            incremental_dedup(
                new, snap_static, "doc_id", "text", tau=0.5, prior_is_snapshot=True
            ).collect(),
        )
    )

    src = tmp_path / "crawl"
    src.mkdir()
    for i, r in enumerate(new.collect()):
        spark.createDataFrame([r], new.schema).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        incremental_dedup_narrow(
            stream, snap_static, "doc_id", "text", tau=0.5, buckets=buckets_static
        )
        .writeStream.format("memory")
        .queryName("inc_dedup_out")
        .outputMode("append")
        .start()
    )
    _start_and_drain(q)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM inc_dedup_out").collect())
    )
    assert got == want


def test_hdr_sketch_builds_over_a_stream(spark, tmp_path):
    """The HDR quantile sketch is a plain cell-count aggregation, so it
    builds over a STREAM natively (complete-mode groupBy — Spark's
    incremental state IS the cell-wise merge): drained over micro-batches
    it equals the batch sketch bit-for-bit, and quantiles read from it
    match quantiles read from the batch sketch."""
    from pincspark.operators.sketches import hdr_quantiles, hdr_sketch

    rows = [("a", (i * 2654435761) % 1000003) for i in range(3000)] + [
        ("b", i * i % 777) for i in range(800)
    ]
    df = spark.createDataFrame(rows, "g STRING, v BIGINT")
    want = sorted(map(tuple, hdr_sketch(df, "v", ["g"]).collect()))

    src = tmp_path / "vals"
    src.mkdir()
    n_chunk = 4
    for c in range(n_chunk):
        df.filter(F.abs(F.hash("v", "g")) % n_chunk == c).write.parquet(
            str(src / f"c{c}")
        )
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        hdr_sketch(stream, "v", ["g"])
        .writeStream.format("memory")
        .queryName("hdr_stream")
        .outputMode("complete")
        .start()
    )
    _start_and_drain(q)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM hdr_stream").collect())
    )
    assert got == want

    sk = spark.sql("SELECT * FROM hdr_stream")
    got_q = sorted(map(tuple, hdr_quantiles(sk, [0.5, 0.99], ["g"]).collect()))
    want_q = sorted(
        map(tuple, hdr_quantiles(hdr_sketch(df, "v", ["g"]), [0.5, 0.99], ["g"]).collect())
    )
    assert got_q == want_q


def test_encounters_stream_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-resume: the encounter detector's (bucket, cell) group
    state survives a query stop/restart through the checkpoint — fixes
    delivered BEFORE the stop still pair with fixes arriving AFTER the
    restart, and nothing is emitted twice. (The guarantee a 1000-executor
    deployment actually relies on: executor/driver loss must not lose
    half-formed pairs or duplicate emitted ones.)"""
    from pincspark.operators.geo import encounters
    from pincspark.streaming.encounters import encounters_stream

    fixes = _encounter_fixes(spark)
    want = {
        (r["mmsi_a"], r["mmsi_b"], r["n_close"], r["min_dist_m"], r["first_bkt"], r["last_bkt"])
        for r in encounters(fixes).collect()
    }

    src = tmp_path / "fixes_ckpt"
    src.mkdir()
    rows = fixes.collect()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "enc_out")  # parquet sink: supports recovery,
    # and its file log gives exactly-once across the restart

    def run(files):
        for i, r in files:
            d = src / f"f{i:02d}"
            if not d.exists():
                spark.createDataFrame([r], fixes.schema).write.parquet(str(d))
        stream = (
            spark.readStream.schema(fixes.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            encounters_stream(stream, timeout_ms=None)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        _start_and_drain(q)
        return [tuple(r) for r in spark.read.parquet(out).collect()]

    # first life: only the first half of the fixes exist
    first = run(list(enumerate(rows))[: len(rows) // 2])
    # second life, SAME checkpoint + sink: the rest arrive
    combined = run(list(enumerate(rows))[len(rows) // 2 :])
    second = [r for r in combined]  # full sink contents after both lives

    assert len(combined) == len(set(combined)), "duplicate emission across restart"
    got = {}
    for a, b, bkt, dist in combined:
        k = (a, b)
        n, mn, fb, lb = got.get(k, (0, None, None, None))
        got[k] = (
            n + 1,
            dist if mn is None else min(mn, dist),
            bkt if fb is None else min(fb, bkt),
            bkt if lb is None else max(lb, bkt),
        )
    assert {(a, b, *v) for (a, b), v in got.items()} == want
    # the cross-restart guarantee did real work: the first life emitted
    # some pairs, and the second life added pairs it could only form by
    # recovering the first life's state
    assert first and len(combined) > len(first)


def test_cms_sketch_builds_over_a_stream(spark, tmp_path):
    """Same property as the HDR fold, for the CMS cells: complete-mode
    streaming build == batch sketch cell-for-cell (Spark's incremental
    aggregation state IS cms_merge)."""
    from pincspark.operators.sketches import cms_sketch

    df = spark.createDataFrame(
        [(f"tok{i % 37}",) for i in range(4000)], "token STRING"
    )
    want = sorted(map(tuple, cms_sketch(df, "token").collect()))
    src = tmp_path / "toks"
    src.mkdir()
    for c in range(3):
        df.filter(F.abs(F.hash("token")) % 3 == c).write.parquet(str(src / f"c{c}"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        cms_sketch(stream, "token")
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .start()
    )
    _start_and_drain(q)
    got = sorted(map(tuple, spark.sql("SELECT * FROM cms_stream").collect()))
    assert got == want


def _nmea(body: str) -> str:
    """Mint a checksum-valid NMEA line from its body (between '!' and '*')."""
    x = 0
    for ch in body:
        x ^= ord(ch)
    return f"!{body}*{x:02X}"


_CENSUS_CORPUS = [
    "",                                   # empty
    "$GPGGA,none",                        # no_bang
    "!ABVDM,1,1,,A,NOSTAR,0",             # no_checksum
    "!ABVDM,1,1,,A,P1,0*00",              # bad_checksum (wrong XOR)
    _nmea("ABVDM,1,1,,A,PAYLOAD1,0"),     # valid singleton -> assembled
    _nmea("ABVDM,2,1,5,A,AAA,0"),         # 2-part group, in order
    _nmea("ABVDM,2,2,5,A,BBB,0"),         #   -> assembled x2
    _nmea("ABVDM,1,2,,A,XX,0"),           # malformed singleton -> orphaned
    _nmea("ABVDM,2,1,6,A,CC,0"),          # duplicate num=1 pair: neither
    _nmea("ABVDM,2,1,6,A,CC,0"),          #   completes -> orphaned x2
]

# reason-coded expectation both the batch and stream censuses must meet
_CENSUS_WANT = {
    "empty": 1,
    "no_bang": 1,
    "no_checksum": 1,
    "bad_checksum": 1,
    "assembled": 3,
    "orphaned": 3,
}


def test_quarantine_census_stream_matches_batch(spark, tmp_path):
    """The streaming quarantine census (reason-coded row per input line)
    agrees with q110's batch census on an in-order, complete corpus —
    the regime where the adjacency key and the keyed state are defined
    to coincide. The stateless tier is the SAME expression object on
    both paths (pincspark/streaming/census.py), so only the group
    outcomes could ever drift — and this pins them."""
    from pincspark.streaming.census import (
        batch_ingest_census,
        quarantine_census_stream,
    )

    batch = {
        r["status"]: r["n"]
        for r in batch_ingest_census(
            spark.createDataFrame(
                list(enumerate(_CENSUS_CORPUS)), "line_idx LONG, value STRING"
            )
        ).collect()
    }
    assert batch == _CENSUS_WANT

    src = tmp_path / "census_lines"
    src.mkdir()
    (src / "feed.txt").write_text("\n".join(_CENSUS_CORPUS) + "\n")
    stream = spark.readStream.format("text").load(str(src))
    q = (
        quarantine_census_stream(stream, timeout_ms=None)
        .writeStream.format("memory")
        .queryName("census_out")
        .outputMode("append")
        .start()
    )
    _start_and_drain(q)
    rows = spark.sql("SELECT * FROM census_out").collect()
    assert len(rows) == len(_CENSUS_CORPUS)  # every line accounted for
    got = {}
    for r in rows:
        got[r["status"]] = got.get(r["status"], 0) + 1
    assert got == batch
    # the quarantine rows carry the group key an operator pages on
    orphans = {(r["seq_id"], r["num"]) for r in rows if r["status"] == "orphaned"}
    assert (6, 1) in orphans


def test_quarantine_census_stream_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-resume: a multi-part group SPLIT ACROSS the stop/restart
    is still assembled (keyed state recovered from the checkpoint), no
    line's verdict is emitted twice, and every line is accounted
    exactly once — the exactly-once ingest accounting a 1000-executor
    deployment needs under driver loss."""
    from pincspark.streaming.census import quarantine_census_stream

    wave1 = [
        _nmea("ABVDM,2,1,8,A,FIRSTHALF,0"),  # part 1 of the split group
        _nmea("ABVDM,1,1,,A,SOLO,0"),
        "!ABVDM,1,1,,A,NOSTAR,0",
    ]
    wave2 = [
        _nmea("ABVDM,2,2,8,A,SECONDHALF,0"),  # completes across restart
        "",
    ]
    src = tmp_path / "census_ckpt_lines"
    src.mkdir()
    ckpt = str(tmp_path / "census_ckpt")
    out = str(tmp_path / "census_parquet")

    def run(name, lines):
        (src / name).write_text("\n".join(lines) + "\n")
        stream = spark.readStream.format("text").load(str(src))
        q = (
            quarantine_census_stream(stream, timeout_ms=None)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        _start_and_drain(q)
        return [tuple(r) for r in spark.read.parquet(out).collect()]

    first = run("w1.txt", wave1)
    combined = run("w2.txt", wave2)
    # first life: only the solo + no_checksum verdicts can emit (the
    # 2-part group is pending in state)
    statuses1 = sorted(s for *_, s in first)
    assert statuses1 == ["assembled", "no_checksum"]
    # second life recovers the buffered part 1 and assembles the group
    statuses = sorted(s for *_, s in combined)
    assert statuses == ["assembled", "assembled", "assembled", "empty", "no_checksum"]
    # exactly-once: 5 input lines, 5 verdicts, none duplicated
    assert len(combined) == 5


def test_census_kernel_timeout_evicts_as_orphaned():
    """The timeout branch, driven directly (processing-time timeouts are
    nondeterministic under a test trigger): an evicted partial group
    emits one orphaned row per buffered fragment and clears its state."""
    import pandas as pd

    from pincspark.streaming.census import _make_census_group

    class _Stub:
        hasTimedOut = True
        exists = True
        get = ([1, 3], 4)
        removed = False

        def remove(self):
            self.removed = True

    st = _Stub()
    out = list(_make_census_group(60_000)((9, "A"), iter([]), st))
    assert st.removed
    rows = pd.concat(out).values.tolist()
    assert sorted(rows) == [[9, "A", 1, "orphaned"], [9, "A", 3, "orphaned"]]


def _media_wave(spark, path, rows):
    import numpy as np

    from pincspark.operators.multimodal import bmp_encode

    def ras(seed):
        rng = np.random.RandomState(seed)
        return rng.randint(0, 256, size=(8, 18, 3)).astype(np.int64)

    data = [(mid, bytearray(bmp_encode(ras(seed))), "image") for mid, seed in rows]
    spark.createDataFrame(
        data, "media_id LONG, content BINARY, kind STRING"
    ).write.mode("append").parquet(path)


def test_perceptual_quarantine_stream_folds_and_flags(spark, tmp_path):
    """VERDICT r14 #6: streaming perceptual quarantine — wave 1 media
    fold into the fingerprint store and come back `unique` /
    `near_dup_batch`; wave 2 twins of wave-1 items flag
    `near_dup_history` WITHOUT re-reading wave 1's media (the store
    answers), and wave-2-internal twins flag `near_dup_batch`."""
    import numpy as np

    from pincspark.operators.fingerprint_index import build_fingerprint_index
    from pincspark.streaming.perceptual import perceptual_quarantine_stream

    idx = str(tmp_path / "fpidx")
    out = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    src = str(tmp_path / "media")
    # seed the store with pre-existing history (media 1: seed 100)
    build_fingerprint_index(
        spark.createDataFrame([(1, None)], "media_id LONG, fhash LONG").limit(0),
        idx,
    )

    schema = "media_id LONG, content BINARY, kind STRING"

    def run_wave(rows):
        _media_wave(spark, src, rows)
        stream = spark.readStream.schema(schema).parquet(src)
        q = perceptual_quarantine_stream(stream, idx, out, ckpt)
        _start_and_drain(q)
        return {
            r["media_id"]: (r["status"], r["matched_id"])
            for r in spark.read.parquet(out).collect()
        }

    # wave 1: 10 unique + an internal twin pair (11, 12 share seed 5)
    v1 = run_wave([(i, i) for i in range(1, 11)] + [(11, 5), (12, 5)])
    assert v1[1] == ("unique", None)
    assert v1[11] == ("near_dup_batch", 12) or v1[11] == ("near_dup_batch", 5)
    assert v1[12][0] == "near_dup_batch"
    assert v1[5][0] == "near_dup_batch"  # seed 5 is also media 5's raster
    # wave 2: 21 twins history seed 3; 22 is fresh; 23/24 twin each other
    v2 = run_wave([(21, 3), (22, 990), (23, 991), (24, 991)])
    assert v2[21] == ("near_dup_history", 3)
    assert v2[22] == ("unique", None)
    assert v2[23] == ("near_dup_batch", 24)
    assert v2[24] == ("near_dup_batch", 23)
    # wave 1 verdicts unchanged (their partitions were not rewritten)
    assert v2[1] == ("unique", None)
    # exactly one verdict row per media item ever ingested
    assert len(v2) == 16


def test_perceptual_sink_replay_is_idempotent(spark, tmp_path):
    """Crash-replay of a micro-batch (same batch_id): the marker skips
    the re-append, verdicts overwrite their own partition, and the store
    still serves exact pairs — the exactly-once contract under driver
    loss."""
    import glob

    from pincspark.operators.fingerprint_index import (
        build_fingerprint_index,
        fingerprint_pairs_for_batch,
    )
    from pincspark.streaming.perceptual import perceptual_quarantine_sink

    idx = str(tmp_path / "fpidx")
    out = str(tmp_path / "quarantine")
    build_fingerprint_index(
        spark.createDataFrame([(1, None)], "media_id LONG, fhash LONG").limit(0),
        idx,
    )
    src = str(tmp_path / "media")
    _media_wave(spark, src, [(1, 1), (2, 2), (3, 2)])
    batch = spark.read.parquet(src)
    sink = perceptual_quarantine_sink(idx, out)

    sink(batch, 0)
    files_after_first = sorted(
        glob.glob(f"{idx}/bands/**/*.parquet", recursive=True)
    )
    v1 = {r["media_id"]: r["status"] for r in spark.read.parquet(out).collect()}
    sink(batch, 0)  # replay
    files_after_replay = sorted(
        glob.glob(f"{idx}/bands/**/*.parquet", recursive=True)
    )
    v2 = {r["media_id"]: r["status"] for r in spark.read.parquet(out).collect()}
    assert v1 == v2 == {1: "unique", 2: "near_dup_batch", 3: "near_dup_batch"}
    assert files_after_first == files_after_replay  # marker skipped append
    # the store still pairs exactly for a later probe
    probe = spark.createDataFrame([(9, 1)], "media_id LONG, seed LONG")
    # reuse the wave encoder for a deterministic twin of media 1
    import numpy as np

    from pincspark.operators.image_hash import decode_image_hashes
    from pincspark.operators.multimodal import bmp_encode

    rng = np.random.RandomState(1)
    blob = bmp_encode(rng.randint(0, 256, size=(8, 18, 3)).astype(np.int64))
    probe_hashed = decode_image_hashes(
        spark.createDataFrame(
            [(9, bytearray(blob), "image")],
            "media_id LONG, content BINARY, kind STRING",
        ),
        strict=True,
    ).select("media_id", F.col("dhash").alias("fhash"))
    pairs = fingerprint_pairs_for_batch(spark, idx, probe_hashed)
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs.collect()} == {
        (1, 9, 0)
    }
