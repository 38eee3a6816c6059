"""Streaming twin of the batch pair-encounter detector (operators/geo.py
``encounters``) — "who is converging right now" over a live fix stream.

Reference scope: the reference's live tier tracks vessel-vs-zone state
(ais_webSocketServerDb.py:226-260) but never vessel-vs-vessel; the batch
``encounters`` operator (q96) added the rendezvous/near-miss analytic, and
this module gives it the streaming form the live AIS domain actually wants.

Spark-first split, mirroring the batch stages exactly:

1. ``route_fixes`` (pure SQL, pre-state): snap each fix to its time bucket
   and grid cell, then fan it out as ONE "home" row to its own cell plus
   NINE "probe" rows to the 3x3 neighbor cells — the same bounded 9x
   expansion as the batch candidate join, so each close pair meets in
   exactly one group: the greater key's home cell.
2. ``encounter_candidates_stream`` (applyInPandasWithState keyed by
   (bkt, cx, cy)): pairs probes with homes under ``probe.k < home.k`` —
   pure cell co-location, NO distance math in Python. State per group is
   the fix list seen so far (bounded by per-cell traffic density); a pair
   is emitted exactly once, when the second member arrives, so the
   operator is incremental across micro-batches.
3. Exact filter (pure SQL, post-state): the SAME ``haversine_m`` column
   expression + BIGINT round as the batch operator, so stream and batch
   distances are bit-identical by construction.

PRECONDITION (same as batch step 1's first-fix-per-bucket window): the
input stream is unique per (key, bucket) — dedup upstream with
``dropDuplicatesWithinWatermark`` on (key, bkt) or feed already-QC'd
tracks. Within a group the state function keeps first-seen per key as a
replay guard. The batch cell-size precondition (cell_deg wide enough for
radius_m at the operating latitude) applies unchanged.

100 TB: state is sharded by (bucket, cell) — thousands of small groups,
no per-vessel global state; eviction is free because a group's key pins
it to one time bucket (set ``timeout_ms`` to evict buckets after the
late-data horizon). Candidate volume is bounded by cell density, never
fleet size squared.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pincspark.operators.geo import haversine_m

CANDIDATE_SCHEMA = T.StructType(
    [
        T.StructField("mmsi_a", T.LongType()),
        T.StructField("mmsi_b", T.LongType()),
        T.StructField("bkt", T.LongType()),
        T.StructField("a_lat", T.DoubleType()),
        T.StructField("a_lon", T.DoubleType()),
        T.StructField("b_lat", T.DoubleType()),
        T.StructField("b_lon", T.DoubleType()),
    ]
)

# per-group state: the fixes seen so far, parallel arrays
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ks", T.ArrayType(T.LongType())),
        T.StructField("lats", T.ArrayType(T.DoubleType())),
        T.StructField("lons", T.ArrayType(T.DoubleType())),
        T.StructField("homes", T.ArrayType(T.BooleanType())),
    ]
)


def route_fixes(
    fixes: DataFrame,
    key: str = "mmsi",
    ts_col: str = "ts",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    bucket_s: int = 3600,
    cell_deg: float = 0.05,
) -> DataFrame:
    """Fan each fix out to 1 home row + 9 probe rows (batch stage 2/3's
    explode, expressed pre-state so the stateful operator's grouping key
    is a plain column tuple). ``is_home`` marks the single home copy."""
    base = fixes.select(
        F.col(key).cast("bigint").alias("k"),
        F.call_function(
            "div", F.unix_timestamp(F.col(ts_col)), F.lit(bucket_s)
        ).alias("bkt"),
        F.col(lat_col).alias("lat"),
        F.col(lon_col).alias("lon"),
        F.floor(F.col(lon_col) / F.lit(cell_deg)).alias("home_cx"),
        F.floor(F.col(lat_col) / F.lit(cell_deg)).alias("home_cy"),
    )
    nbr = F.array(F.lit(-1), F.lit(0), F.lit(1))
    probes = (
        base.withColumn("dx", F.explode(nbr))
        .withColumn("dy", F.explode(nbr))
        .select(
            "k",
            "bkt",
            "lat",
            "lon",
            (F.col("home_cx") + F.col("dx")).alias("cx"),
            (F.col("home_cy") + F.col("dy")).alias("cy"),
            F.lit(False).alias("is_home"),
        )
    )
    homes = base.select(
        "k",
        "bkt",
        "lat",
        "lon",
        F.col("home_cx").alias("cx"),
        F.col("home_cy").alias("cy"),
        F.lit(True).alias("is_home"),
    )
    return probes.unionByName(homes)


def _make_pair_group(timeout_ms: int | None):
    def _pair_group(
        group_key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        bkt, _cx, _cy = group_key
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ks, lats, lons, homes = (list(c) for c in state.get)
        else:
            ks, lats, lons, homes = [], [], [], []
        seen = set(zip(ks, homes))

        out = []
        for pdf in pdfs:
            # deterministic within-batch order; the emitted pair SET is
            # order-independent (each pair forms when its second member
            # lands), order only disambiguates replayed duplicates
            pdf = pdf.sort_values(["k", "is_home"])
            for row in pdf.itertuples(index=False):
                k, home = int(row.k), bool(row.is_home)
                if (k, home) in seen:
                    continue  # replay guard (first-seen wins, as batch step 1)
                for ok, olat, olon, ohome in zip(ks, lats, lons, homes):
                    if home and not ohome and ok < k:
                        out.append((ok, k, int(bkt), olat, olon, row.lat, row.lon))
                    elif not home and ohome and k < ok:
                        out.append((k, ok, int(bkt), row.lat, row.lon, olat, olon))
                ks.append(k)
                lats.append(float(row.lat))
                lons.append(float(row.lon))
                homes.append(home)
                seen.add((k, home))

        state.update((ks, lats, lons, homes))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.DataFrame(
                out,
                columns=["mmsi_a", "mmsi_b", "bkt", "a_lat", "a_lon", "b_lat", "b_lon"],
            )

    return _pair_group


def encounter_candidates_stream(
    routed: DataFrame, timeout_ms: int | None = 24 * 3600 * 1000
) -> DataFrame:
    """Routed fix stream -> candidate pair stream (cell co-location only;
    the exact radius filter runs downstream JVM-side). ``timeout_ms``
    evicts a (bucket, cell) group that long after its last update (None =
    NoTimeout, for deterministic micro-batch tests)."""
    return routed.groupBy("bkt", "cx", "cy").applyInPandasWithState(
        _make_pair_group(timeout_ms),
        outputStructType=CANDIDATE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms
            else GroupStateTimeout.NoTimeout
        ),
    )


def encounters_stream(
    fixes: DataFrame,
    key: str = "mmsi",
    ts_col: str = "ts",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    radius_m: int = 5000,
    bucket_s: int = 3600,
    cell_deg: float = 0.05,
    timeout_ms: int | None = 24 * 3600 * 1000,
) -> DataFrame:
    """Fix stream -> close-pair event stream (mmsi_a, mmsi_b, bkt,
    dist_m), one row per pair per co-located bucket — the pre-aggregation
    rows of the batch operator; aggregating them by pair reproduces the
    batch ``encounters`` table exactly (pinned in test_streaming.py)."""
    cand = encounter_candidates_stream(
        route_fixes(
            fixes,
            key=key,
            ts_col=ts_col,
            lat_col=lat_col,
            lon_col=lon_col,
            bucket_s=bucket_s,
            cell_deg=cell_deg,
        ),
        timeout_ms=timeout_ms,
    )
    dist = F.round(
        haversine_m(F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon"))
    ).cast("bigint")
    return cand.select("mmsi_a", "mmsi_b", "bkt", dist.alias("dist_m")).filter(
        F.col("dist_m") <= F.lit(int(radius_m))
    )
