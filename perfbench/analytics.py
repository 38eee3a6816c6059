"""The six read-side analyses over a gold table, each closed with a noop
sink. For every analysis the trace records the DataFrame-building call
(``plan_s`` and its py4j round-trips) apart from the write (``exec_s``);
the job group named after the analysis carries its task time, shuffle and
spill bytes in the event log."""

from __future__ import annotations

import time

from harness import noop


def analyses(spark, gold) -> dict:
    from pincspark.operators import geo, keyed
    from pincspark.streaming import zones

    pts = gold.filter("longitude IS NOT NULL")
    return {
        "geo.zone_occupancy": lambda: geo.zone_occupancy(pts),
        "zones.track_zone_transitions_batch": lambda: zones.track_zone_transitions_batch(
            zones.with_zone_flags(pts, geo.zones_df(spark))
        ),
        "geo.track_qc": lambda: geo.track_qc(pts, "mmsi", "ts", "latitude", "longitude"),
        "geo.resample_tracks": lambda: geo.resample_tracks(pts),
        "geo.encounters": lambda: geo.encounters(pts),
        "keyed.latest_per_key": lambda: keyed.latest_per_key(gold, "mmsi", order_by=["ts"]),
    }


def run_pass(spark, gold_path: str, tracer, tag: str) -> dict[str, dict]:
    """Run all six once; returns {name: {plan_s, exec_s, py4j_calls}}."""
    out = {}
    gold = spark.read.parquet(gold_path)
    for name, build in analyses(spark, gold).items():
        with tracer.group(tag + name):
            calls0 = tracer.calls
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            calls1 = tracer.calls
            noop(df)
            t2 = time.perf_counter()
        out[name] = {"plan_s": t1 - t0, "exec_s": t2 - t1, "py4j_calls": calls1 - calls0}
    return out
