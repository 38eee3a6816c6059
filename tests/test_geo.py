"""Geo operator tests: the pure-SQL ray-casting predicate is checked against
an independent pure-Python winding-number implementation over a point grid
covering both TSS zones (FIXTURES.md B4: inside-N, inside-S, outside,
near-boundary)."""

from __future__ import annotations

import pytest

from pincspark.operators.geo import load_zone_data


def winding_inside(x: float, y: float, ring: list[list[float]]) -> bool:
    """Nonzero winding number test (independent algorithm from the engine's
    even-odd crossing fold; equivalent for simple polygons)."""
    wn = 0
    for (px, py), (qx, qy) in zip(ring[:-1], ring[1:]):
        if py <= y:
            if qy > y and (qx - px) * (y - py) - (x - px) * (qy - py) > 0:
                wn += 1
        elif qy <= y and (qx - px) * (y - py) - (x - px) * (qy - py) < 0:
            wn -= 1
    return wn != 0


@pytest.fixture(scope="module")
def grid():
    zones = load_zone_data()
    xs = [100.4 + 0.37 * i for i in range(10)]
    ys = [0.9 + 0.23 * j for j in range(10)]
    pts = [(round(x, 6), round(y, 6)) for x in xs for y in ys]
    expected = {
        z["zone_id"]: {p for p in pts if winding_inside(p[0], p[1], z["coordinates"])}
        for z in zones
    }
    return pts, expected


def test_ray_casting_matches_winding(spark, grid):
    from pyspark.sql import functions as F

    from pincspark.operators.geo import spatial_join, zones_df

    pts, expected = grid
    points = spark.createDataFrame(pts, "longitude DOUBLE, latitude DOUBLE")
    matched = spatial_join(points, zones_df(spark)).collect()
    got: dict[int, set] = {1: set(), 2: set()}
    for r in matched:
        got[r["zone_id"]].add((r["longitude"], r["latitude"]))
    assert got[1] == expected[1]
    assert got[2] == expected[2]
    # sanity: the grid exercises both zones and the outside
    assert expected[1] and expected[2]
    assert len(expected[1] | expected[2]) < len(pts)


def test_zone_polygons_shape():
    zones = load_zone_data()
    assert [z["zone_name"] for z in zones] == ["TSS-Northbound", "TSS-Southbound"]
    for z in zones:
        ring = z["coordinates"]
        assert ring[0] == ring[-1], "ring must be closed"
        assert len(ring) >= 42


def test_track_qc_flags_teleports(spark):
    """Planted track: a 0.01-degree hop (~1.1 km) in 10 min passes at
    26 m/s; the same hop in 10 seconds is physically impossible and is
    flagged; the first fix always passes."""
    from datetime import datetime

    from pincspark.operators.geo import track_qc

    rows = [
        (1, datetime(2024, 1, 1, 10, 0, 0), 1.0, 100.0),
        (1, datetime(2024, 1, 1, 10, 10, 0), 1.0, 100.01),   # ~1.1km / 600s ok
        (1, datetime(2024, 1, 1, 10, 10, 10), 1.0, 100.02),  # ~1.1km / 10s -> flag
        (2, datetime(2024, 1, 1, 10, 0, 0), 1.5, 101.0),     # lone first fix
    ]
    df = spark.createDataFrame(rows, "mmsi int, ts timestamp, latitude double, longitude double")
    out = {
        (r["mmsi"], str(r["ts"])): (r["dist_m"], r["dt_s"], r["speed_ok"])
        for r in track_qc(df, "mmsi", "ts", "latitude", "longitude").collect()
    }
    assert out[(1, "2024-01-01 10:00:00")] == (None, None, 1)
    d1, t1, ok1 = out[(1, "2024-01-01 10:10:00")]
    assert abs(d1 - 1113) < 5 and t1 == 600 and ok1 == 1
    d2, t2, ok2 = out[(1, "2024-01-01 10:10:10")]
    assert abs(d2 - 1113) < 5 and t2 == 10 and ok2 == 0
    assert out[(2, "2024-01-01 10:00:00")] == (None, None, 1)


def test_haversine_known_distance(spark):
    """One degree of longitude at the equator is ~111.19 km."""
    from pyspark.sql import functions as F

    from pincspark.operators.geo import haversine_m

    d = (
        spark.range(1)
        .select(haversine_m(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(1.0)).alias("d"))
        .collect()[0]["d"]
    )
    assert abs(d - 111195) < 10


# ---------------------------------------------------------------------------
# encounters (q96): space-time bucketed pair proximity
# ---------------------------------------------------------------------------

from datetime import datetime  # noqa: E402

from pincspark.operators.geo import encounters  # noqa: E402


def _enc(spark, fixes, **kw):
    df = spark.createDataFrame(fixes, ["mmsi", "ts", "latitude", "longitude"])
    rows = encounters(df, **kw).collect()
    return {
        (r["mmsi_a"], r["mmsi_b"]): (
            r["n_close"], r["min_dist_m"], r["first_bkt"], r["last_bkt"]
        )
        for r in rows
    }


def test_encounters_cross_cell_pair_is_found(spark):
    # Two vessels ~1.1 km apart straddling the 0.05-degree cell boundary
    # at lon 100.05: only the neighbor-cell explode can pair them.
    t = datetime(2024, 1, 1, 12, 0, 0)
    got = _enc(spark, [
        (1, t, 1.0, 100.049),
        (2, t, 1.0, 100.059),
    ])
    assert list(got) == [(1, 2)]
    n_close, min_d, first_b, last_b = got[(1, 2)]
    assert n_close == 1 and first_b == last_b
    assert 1000 < min_d < 1250  # ~0.01 deg of longitude near the equator


def test_encounters_same_cell_but_beyond_radius_excluded(spark):
    # Same hour, same latitude band, 0.8 deg apart (~89 km): never a pair,
    # whatever cell geometry says.
    t = datetime(2024, 1, 1, 12, 0, 0)
    assert _enc(spark, [(1, t, 1.0, 100.0), (2, t, 1.0, 100.8)]) == {}


def test_encounters_pair_counted_once_per_bucket_and_aggregated(spark):
    # Co-located in hours 10 and 12, apart in hour 11.
    a = [(1, datetime(2024, 1, 1, h, 0, 0), 1.0, 100.0) for h in (10, 11, 12)]
    b = [
        (2, datetime(2024, 1, 1, 10, 30, 0), 1.0, 100.01),
        (2, datetime(2024, 1, 1, 11, 30, 0), 1.0, 101.5),
        (2, datetime(2024, 1, 1, 12, 30, 0), 1.0, 100.02),
    ]
    got = _enc(spark, a + b)
    assert list(got) == [(1, 2)]
    n_close, min_d, first_b, last_b = got[(1, 2)]
    assert n_close == 2
    assert last_b == first_b + 2  # hours 10 and 12
    assert abs(min_d - 1113) <= 2  # 0.01 deg lon at lat 1.0


def test_encounters_takes_first_fix_per_bucket(spark):
    # Vessel 2's FIRST fix in the hour is far away; its later close fix
    # must not create a pair (the bucketed dedup keeps the earliest fix).
    got = _enc(spark, [
        (1, datetime(2024, 1, 1, 12, 0, 0), 1.0, 100.0),
        (2, datetime(2024, 1, 1, 12, 5, 0), 1.0, 102.0),
        (2, datetime(2024, 1, 1, 12, 40, 0), 1.0, 100.001),
    ])
    assert got == {}


def test_encounters_orders_pairs_and_never_self_pairs(spark):
    t = datetime(2024, 1, 1, 12, 0, 0)
    got = _enc(spark, [
        (9, t, 1.0, 100.0),
        (3, t, 1.0, 100.001),
        (5, t, 1.0, 100.002),
    ])
    assert set(got) == {(3, 5), (3, 9), (5, 9)}


def test_encounters_radius_and_bucket_knobs(spark):
    # 2.2 km apart: inside a 3 km radius, outside a 1 km one; with
    # 15-minute buckets the two co-located times land in DIFFERENT
    # buckets and count twice.
    pts = [
        (1, datetime(2024, 1, 1, 12, 1, 0), 1.0, 100.0),
        (2, datetime(2024, 1, 1, 12, 2, 0), 1.0, 100.02),
        (1, datetime(2024, 1, 1, 12, 50, 0), 1.0, 100.0),
        (2, datetime(2024, 1, 1, 12, 55, 0), 1.0, 100.02),
    ]
    wide = _enc(spark, pts, radius_m=3000, bucket_s=900)
    assert wide[(1, 2)][0] == 2
    assert _enc(spark, pts, radius_m=1000, bucket_s=900) == {}


def test_encounters_ts_column_with_a_space(spark):
    # The time bucket is built from F.col(ts_col), so a ts column whose
    # name holds a space gives the same table as the default name.
    t = datetime(2024, 1, 1, 12, 0, 0)
    fixes = [(1, t, 1.0, 100.049), (2, t, 1.0, 100.059)]
    want = _enc(spark, fixes)
    df = spark.createDataFrame(fixes, ["mmsi", "fix ts", "latitude", "longitude"])
    got = {
        (r["mmsi_a"], r["mmsi_b"]): (
            r["n_close"], r["min_dist_m"], r["first_bkt"], r["last_bkt"]
        )
        for r in encounters(df, ts_col="fix ts").collect()
    }
    assert got == want and list(got) == [(1, 2)]


def test_resample_tracks_semantics(spark):
    """Half-open grid, linear values, gap guard, ceil-to-grid start: a
    hand-computable two-vessel fixture pins every branch."""
    from pincspark.operators.geo import resample_tracks

    rows = [
        # vessel 1: fixes at t=1000 and t=3400 (gap 2400), step 600 ->
        # grid 1200, 1800, 2400, 3000 (3600 > 3399 excluded: half-open)
        (1, 1000, 10.0, 20.0),
        (1, 3400, 34.0, 44.0),
        # second segment 3400 -> 4000: grid 3600 only
        (1, 4000, 40.0, 50.0),
        # vessel 2: gap over the max (7000) -> nothing emitted
        (2, 0, 0.0, 0.0),
        (2, 8000, 1.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "mmsi BIGINT, epoch BIGINT, latitude DOUBLE, longitude DOUBLE"
    ).selectExpr("mmsi", "timestamp_seconds(epoch) AS ts", "latitude", "longitude")
    out = {
        (r["mmsi"], r["grid_ts"]): (r["latitude"], r["longitude"])
        for r in resample_tracks(df, step_s=600, max_gap_s=5000).collect()
    }
    assert set(out) == {(1, g) for g in (1200, 1800, 2400, 3000, 3600)}
    # linear: at g the value is v0 + (v1-v0)*(g-t0)/(t1-t0)
    for g in (1200, 1800, 2400, 3000):
        frac = (g - 1000) / 2400
        assert out[(1, g)] == (10.0 + 24.0 * frac, 20.0 + 24.0 * frac)
    frac2 = (3600 - 3400) / 600
    assert out[(1, 3600)] == (34.0 + 6.0 * frac2, 44.0 + 6.0 * frac2)


def test_resample_tracks_grid_aligned_fix_not_duplicated(spark):
    """A fix sitting exactly ON a grid instant: the half-open segment
    convention emits it once (as its own segment's start), never twice."""
    from pincspark.operators.geo import resample_tracks

    rows = [(7, 600, 1.0, 1.0), (7, 1200, 2.0, 2.0), (7, 1800, 3.0, 3.0)]
    df = spark.createDataFrame(
        rows, "mmsi BIGINT, epoch BIGINT, latitude DOUBLE, longitude DOUBLE"
    ).selectExpr("mmsi", "timestamp_seconds(epoch) AS ts", "latitude", "longitude")
    out = resample_tracks(df, step_s=600, max_gap_s=5000).collect()
    keys = [(r["mmsi"], r["grid_ts"]) for r in out]
    assert sorted(keys) == [(7, 600), (7, 1200)]  # each exactly once
    vals = {r["grid_ts"]: (r["latitude"], r["longitude"]) for r in out}
    assert vals[600] == (1.0, 1.0) and vals[1200] == (2.0, 2.0)


def test_resample_tracks_matches_python_reference_on_random_tracks(spark):
    """Randomized property: the operator equals a pure-Python replay of
    the documented contract (grid instants, half-open segments, gap
    guard, interpolation arithmetic) on irregular random tracks."""
    import random

    from pincspark.operators.geo import resample_tracks

    rng = random.Random(1319)
    rows = []
    for v in range(12):
        t = rng.randrange(0, 500)
        for _ in range(rng.randrange(2, 14)):
            rows.append((v, t, rng.uniform(-60, 60), rng.uniform(-170, 170)))
            t += rng.randrange(1, 9000)
    step, max_gap = 600, 4000
    df = spark.createDataFrame(
        rows, "mmsi BIGINT, epoch BIGINT, latitude DOUBLE, longitude DOUBLE"
    ).selectExpr("mmsi", "timestamp_seconds(epoch) AS ts", "latitude", "longitude")

    expect = {}
    by_v: dict[int, list] = {}
    for v, t, la, lo in rows:
        by_v.setdefault(v, []).append((t, la, lo))
    for v, fixes in by_v.items():
        fixes.sort()
        for (t0, la0, lo0), (t1, la1, lo1) in zip(fixes, fixes[1:]):
            if not (0 < t1 - t0 <= max_gap):
                continue
            g = ((t0 + step - 1) // step) * step
            while g < t1:
                frac = (g - t0) / (t1 - t0)
                expect[(v, g)] = (la0 + (la1 - la0) * frac, lo0 + (lo1 - lo0) * frac)
                g += step

    got = {
        (r["mmsi"], r["grid_ts"]): (r["latitude"], r["longitude"])
        for r in resample_tracks(df, step_s=step, max_gap_s=max_gap).collect()
    }
    assert got == expect  # exact float equality: same arithmetic, same order


def test_resample_tracks_subsecond_ordering_deterministic(spark):
    """ADVICE r13: the pairing window orders by the ORIGINAL timestamp,
    not the epoch-truncated second — two fixes 300ms apart inside the
    same second must pair in true time order (oracle semantics), giving
    a deterministic segment chain."""
    from pincspark.operators.geo import resample_tracks

    rows = [
        (1, "2024-01-01 00:00:00.200", 10.0, 20.0),
        (1, "2024-01-01 00:00:00.700", 99.0, 99.0),  # same second, later
        (1, "2024-01-01 00:20:00.000", 30.0, 40.0),
    ]
    df = spark.createDataFrame(rows, "mmsi BIGINT, s STRING, latitude DOUBLE, longitude DOUBLE").selectExpr(
        "mmsi", "CAST(s AS TIMESTAMP) AS ts", "latitude", "longitude"
    )
    out = {
        r["grid_ts"]: (r["latitude"], r["longitude"])
        for r in resample_tracks(df, step_s=600, max_gap_s=5000).collect()
    }
    # both same-second fixes truncate to t0=epoch(00:00:00); the pair
    # (first fix -> second fix) spans 0 seconds after truncation and is
    # filtered (t1 > t0 fails); the surviving segment MUST start from the
    # LATER fix (99.0) — ordering by t0 alone could pick either.
    import datetime

    base = int(
        datetime.datetime(
            2024, 1, 1, 0, 0, 0, tzinfo=datetime.timezone.utc
        ).timestamp()
    )
    # t0=base is grid-aligned, so the surviving segment emits g=base and
    # g=base+600, interpolating from the SECOND same-second fix (lat 99)
    # to lat 30 at t=base+1200
    assert set(out) == {base, base + 600}, out
    assert out[base] == (99.0, 99.0), out  # the LATER same-second fix won
    assert out[base + 600] == (64.5, 69.5), out  # 99 + (30-99)*0.5
