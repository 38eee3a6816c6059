"""ST6 windowed aggregation (batch==stream parity on in-order data) and the
full §3.2 streaming ingest chain (text stream -> reassemble -> decode)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

GOLDEN = json.load(
    open(os.path.join(os.path.dirname(__file__), "golden", "reference_decoded.json"))
)


def test_tumbling_counts_batch_stream_parity(spark, tmp_path):
    from pincspark.streaming.windows import tumbling_counts

    rows = [
        (1, 3600 + 10, "click", 1.5),
        (1, 3600 + 700, "click", 2.5),
        (2, 7200 + 5, "view", 3.0),
        (1, 7200 + 100, "click", 4.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, epoch INT, event_type STRING, value DOUBLE"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"), "event_type", "value")

    batch = tumbling_counts(df, "ts", "1 hour", keys=("event_type",), value_col="value")
    got_b = {(r["window_start_us"], r["event_type"]): (r["n"], r["sum_value"]) for r in batch.collect()}
    assert got_b == {
        (3_600_000_000, "click"): (2, 4.0),
        (7_200_000_000, "view"): (1, 3.0),
        (7_200_000_000, "click"): (1, 4.0),
    }

    src = tmp_path / "ev"
    src.mkdir()
    df.write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    windowed = tumbling_counts(
        stream, "ts", "1 hour", keys=("event_type",), watermark="10 minutes", value_col="value"
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got_s = {
        (r["window_start_us"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert got_s == got_b


def test_session_window_matches_sessionize(spark):
    """The native session_window operator produces the same per-user session
    counts as the lag/cumsum sessionize (q13 logic) on the events table."""
    from pincspark.operators.keyed import sessionize
    from pincspark.sources.tables import table
    from pincspark.streaming.windows import session_counts
    from tests.conftest import SF_DIR

    ev = table(spark, SF_DIR, "events")
    native = (
        session_counts(ev, "ts", "30 minutes", keys=("user_id",))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    manual = (
        sessionize(ev, key="user_id", ts="ts", gap_seconds=1800)
        .groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    got_n = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in native.collect()}
    got_m = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in manual.collect()}
    assert got_n == got_m


def test_dedupe_stream(spark, tmp_path):
    """Streaming duplicate suppression per key within the watermark."""
    from pincspark.streaming.windows import dedupe_stream

    rows = [(1, 100, "a"), (1, 101, "a-dup"), (2, 100, "b"), (1, 102, "a-dup2")]
    df = spark.createDataFrame(rows, "k INT, epoch INT, v STRING").select(
        "k", F.timestamp_seconds("epoch").alias("ts"), "v"
    )
    src = tmp_path / "dd"
    src.mkdir()
    df.write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(df.schema).parquet(str(src / "*"))
    q = (
        dedupe_stream(stream, keys=["k"], ts_col="ts")
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT * FROM dd_out").collect()
    assert sorted(r["k"] for r in out) == [1, 2]  # one row per key

    # batch degradation
    assert dedupe_stream(df, keys=["k"], ts_col="ts").count() == 2


def test_streaming_ingest_chain(spark, tmp_path):
    """§3.2: the golden corpus dripped through the streaming chain decodes
    to the same messages as the batch path."""
    from pincspark.sources.nmea_source import read_and_decode_stream

    src = tmp_path / "feed"
    src.mkdir()
    TAG = "\\s:rORBCOMM000,q:u,c:1673222400,i:X*32"
    lines = [TAG + s for rec in GOLDEN for s in rec["sentences"]]
    # split across two files (two micro-batch arrivals, type-5 pair split)
    cut = len(lines) // 2
    (src / "a.txt").write_text("\n".join(lines[:cut]) + "\n")
    (src / "b.txt").write_text("\n".join(lines[cut:]) + "\n")

    decoded = read_and_decode_stream(spark, str(src), timeout_ms=None)
    q = (
        decoded.select("ts", "ais.messageType", "ais.mmsi")
        .writeStream.format("memory")
        .queryName("chain_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM chain_out").collect()
    got = {(r["messageType"], r["mmsi"]) for r in rows}
    want = {(r["common"]["messageType"], r["common"]["mmsi"]) for r in GOLDEN}
    assert got == want
    assert all(r["ts"] is not None for r in rows)


def test_exact_gap_boundary(spark):
    """An event landing EXACTLY gap after its predecessor stays in the same
    session under BOTH sessionize (<= by construction) and the native
    session_window (adjacent [t, t+gap) windows merge). Pins that the
    tested equivalence of the two operators holds at the boundary too —
    not just on fixtures that happen to avoid exact-gap pairs."""
    from pyspark.sql import functions as F

    from pincspark.operators.keyed import sessionize
    from pincspark.streaming.windows import session_counts

    df = spark.createDataFrame(
        [(1, 0), (1, 60), (1, 200)], "k BIGINT, t INT"
    ).withColumn("ts", F.timestamp_seconds("t")).drop("t")

    sz = sessionize(df, "k", "ts", gap_seconds=60)
    assert [r["session_id"] for r in sz.orderBy("ts").collect()] == [0, 0, 1]

    native = session_counts(df, "ts", "60 seconds", keys=("k",))
    assert sorted(r["n_events"] for r in native.collect()) == [1, 2]


def test_streaming_corpus_curation_matches_batch(spark, tmp_path):
    """The LLM-pipeline ingest ops are streaming-safe: documents dripped
    through readStream -> quality score + token stats (narrow expressions)
    -> exact-dup drop within the watermark horizon produce exactly the
    batch composition's rows. (The operators are DataFrame-in/out, so the
    same functions run under both engines — the §2 streaming contract
    extended to the curation tier.)"""
    import pandas as pd

    from pincspark.functions.text import quality_score, token_count
    from pincspark.operators.dedup import fingerprint
    from pincspark.streaming.windows import dedupe_stream
    from pyspark.sql import functions as F

    src = tmp_path / "docs"
    src.mkdir()
    docs = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]
    ].head(120)
    # plant exact duplicates across the two arrival files
    dup = docs.head(10).assign(doc_id=lambda d: d.doc_id + 100000)
    pd.concat([docs.head(60), dup]).to_parquet(src / "a.parquet")
    docs.tail(60).to_parquet(src / "b.parquet")

    def curate(df):
        scored = df.select(
            "doc_id",
            fingerprint(F.col("text")).alias("fp"),
            F.round(quality_score(F.col("text")), 6).alias("q"),
            token_count(F.col("text")).alias("n_tok"),
            F.lit("2023-01-01 00:00:00").cast("timestamp").alias("ts"),
        ).filter(F.col("q") >= 0.4)
        return dedupe_stream(scored, keys=["fp"], ts_col="ts").select(
            "fp", "q", "n_tok"
        )

    schema = "doc_id BIGINT, text STRING"
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = (
        curate(stream)
        .writeStream.format("memory")
        .queryName("cur_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.fp, r.q, r.n_tok) for r in spark.sql("SELECT * FROM cur_stream").collect()
    }
    batch = curate(spark.read.schema(schema).parquet(str(src)))
    want = {(r.fp, r.q, r.n_tok) for r in batch.collect()}
    assert got == want and len(want) > 0
    # the 10 planted duplicates were actually dropped from the 130 inputs
    assert len(got) <= 120


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream inner join (view->click within 1h):
    streaming result == the identical batch join, including the
    out-of-interval and wrong-key rejections."""
    import pandas as pd

    from pincspark.streaming.windows import interval_join_stream

    views = pd.DataFrame(
        {
            "u": ["a", "b", "c"],
            "v_ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 10:05", "2024-01-01 10:10"]
            ),
        }
    )
    clicks = pd.DataFrame(
        {
            "u": ["a", "a", "b", "c"],
            "c_ts": pd.to_datetime(
                [
                    "2024-01-01 10:30",  # a: within 1h -> match
                    "2024-01-01 12:30",  # a: outside -> no match
                    "2024-01-01 10:04",  # b: BEFORE the view -> no match
                    "2024-01-01 11:05",  # c: within -> match
                ]
            ),
        }
    )
    vdir, cdir = tmp_path / "v", tmp_path / "c"
    vdir.mkdir(), cdir.mkdir()
    spark.createDataFrame(views).write.parquet(str(vdir / "b1"))
    spark.createDataFrame(clicks).write.parquet(str(cdir / "b1"))

    vs = spark.readStream.schema("u string, v_ts timestamp").parquet(str(vdir / "*"))
    cs = spark.readStream.schema("u string, c_ts timestamp").parquet(str(cdir / "*"))
    joined = interval_join_stream(vs, cs, "u", "v_ts", "c_ts", within="1 hour")
    q = (
        joined.select(vs["u"].alias("u"), "v_ts", "c_ts")
        .writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["u"], str(r["c_ts"])) for r in spark.sql("SELECT * FROM ssj_out").collect()
        }
    finally:
        q.stop()

    vb, cb = spark.createDataFrame(views), spark.createDataFrame(clicks)
    batch = interval_join_stream(vb, cb, "u", "v_ts", "c_ts", within="1 hour")
    want = {
        (r["u"], str(r["c_ts"]))
        for r in batch.select(vb["u"].alias("u"), "c_ts").collect()
    }
    assert got == want == {("a", "2024-01-01 10:30:00"), ("c", "2024-01-01 11:05:00")}


def test_interval_join_same_named_and_spaced_ts_columns(spark):
    """The interval bound is built from the left frame's own ts Column, not
    pasted into SQL text: both sides may call their event time ``ts``, and
    a ts column whose name holds a space still resolves."""
    from datetime import datetime

    from pincspark.streaming.windows import interval_join_stream

    views = [("a", datetime(2024, 1, 1, 10, 0)), ("b", datetime(2024, 1, 1, 10, 5))]
    clicks = [
        ("a", datetime(2024, 1, 1, 10, 30)),  # within 1h -> match
        ("a", datetime(2024, 1, 1, 12, 30)),  # outside
        ("b", datetime(2024, 1, 1, 10, 4)),  # before the view
    ]
    for left_ts, right_ts in (("ts", "ts"), ("view ts", "click ts")):
        vb = spark.createDataFrame(views, ["u", left_ts])
        cb = spark.createDataFrame(clicks, ["u", right_ts])
        joined = interval_join_stream(vb, cb, "u", left_ts, right_ts, within="1 hour")
        got = {tuple(r) for r in joined.select(vb["u"], cb[right_ts]).collect()}
        assert got == {("a", datetime(2024, 1, 1, 10, 30))}, (left_ts, right_ts)


def test_session_windows_match_python_model_on_random_data(spark):
    """Property: the native session_window aggregation (the q92 gate's
    engine side) matches a pure-Python gap-merge model on random event
    sets — duplicate timestamps, multi-key interleavings, exact-gap
    chains, and singleton bursts included. The model IS the documented
    contract: per key, sort by ts; an event starts a new session iff it
    lands MORE than ``gap`` after its predecessor (exact-gap stays, D10);
    session end = last event + gap."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from pincspark.streaming.windows import session_counts

    GAP_US = 60_000_000  # 60 seconds

    def model(events):
        out = []
        by_key: dict = {}
        for k, t in events:
            by_key.setdefault(k, []).append(t)
        for k, ts in by_key.items():
            ts.sort()
            start, prev, n = ts[0], ts[0], 1
            for t in ts[1:]:
                if t - prev > GAP_US:
                    out.append((k, start, prev + GAP_US, n))
                    start, n = t, 0
                prev = t
                n += 1
            out.append((k, start, prev + GAP_US, n))
        return sorted(out)

    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 2),
                # micros; offsets cluster around multiples of the gap so
                # exact-gap adjacency actually occurs
                st.integers(0, 8).flatmap(
                    lambda m: st.sampled_from(
                        [m * GAP_US, m * GAP_US + 1, m * GAP_US + 12345]
                    )
                ),
            ),
            min_size=1,
            max_size=20,
        )
    )
    def inner(events):
        df = spark.createDataFrame(events, "k BIGINT, t_us BIGINT").select(
            "k", F.timestamp_micros("t_us").alias("ts")
        )
        got = sorted(
            (r["k"], r["session_start_us"], r["session_end_us"], r["n_events"])
            for r in session_counts(df, "ts", "60 seconds", keys=("k",)).collect()
        )
        assert got == model(events)

    inner()
