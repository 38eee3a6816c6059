"""ST6 — event-time windowed aggregation with an explicit late-data policy.

The reference has NO watermark/late-data story: the batch path trusts
tag-block event time (ais_analysis.py:384-388) and the egress path stamps
arrival time (ais_egressServerCH.py:132-134); out-of-order fragments are
simply dropped. This module adds the missing policy: tumbling event-time
windows with a bounded-lateness watermark — identical results to the batch
twin on in-order data (the engine's compatibility bar), bounded state on
streams.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    df: DataFrame,
    ts_col: str,
    window: str,
    keys: Sequence[str] = (),
    watermark: str | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """Tumbling-window counts (and optional value sums) per key.

    Works identically under batch and streaming; pass ``watermark`` (e.g.
    ``"10 minutes"``) on streams to bound state and admit that much event-
    time lateness. Output carries ``window_start_us`` (epoch micros) so
    results are engine-portable.
    """
    src = df
    if watermark is not None and src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    aggs = [F.count(F.lit(1)).alias("n")]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("sum_value")
        )
    out = src.groupBy(F.window(F.col(ts_col), window).alias("w"), *keys).agg(*aggs)
    return out.select(
        F.unix_micros(F.col("w.start")).alias("window_start_us"), *keys, *[
            c for c in ("n", "sum_value") if c in out.columns
        ]
    )


def session_counts(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str] = (),
    watermark: str | None = None,
) -> DataFrame:
    """Session windows via the NATIVE ``session_window`` operator (dynamic
    gap-merged windows; streaming-capable with a watermark) — the built-in
    twin of ``operators.keyed.sessionize`` (tested equivalent on batch).
    Returns one row per session: key, session bounds (epoch micros), count.

    Exact-gap boundary (DIVERGENCES.md D10): both operators KEEP an event
    landing exactly ``gap`` after its predecessor in the same session —
    sessionize via ``<=``, session_window because adjacent [t, t+gap)
    windows merge. Pinned in
    test_windows_stream.py::test_exact_gap_boundary.
    """
    src = df
    if watermark is not None and src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    out = src.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), *keys).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return out.select(
        *keys,
        F.unix_micros(F.col("w.start")).alias("session_start_us"),
        F.unix_micros(F.col("w.end")).alias("session_end_us"),
        "n_events",
    )


def dedupe_stream(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """W2's streaming analog: drop duplicate records per key within the
    watermark horizon (``dropDuplicatesWithinWatermark`` bounds state; on
    batch frames it degrades to plain dropDuplicates)."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(keys)
        )
    return df.dropDuplicates(list(keys))


def interval_join_stream(
    left,
    right,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
):
    """Watermarked stream-stream inner join: match right-stream rows to
    left-stream rows on ``key`` when the right event lands within
    [left_ts, left_ts + within] — the click-to-view / ack-to-request
    correlation shape. Both sides carry watermarks so Spark can BOUND
    the join state: a buffered left row is dropped once the right
    watermark passes its interval end (without watermarks a
    stream-stream join's state grows forever — the 100-TB failure mode).
    Degrades to the identical expression on batch frames (tested
    stream == batch)."""
    from pyspark.sql import functions as F

    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, "inner")
