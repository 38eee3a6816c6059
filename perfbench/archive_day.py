"""archive_day: the flagship batch job over a seeded synthetic day archive.

One unit of work is ``analysis.batch_archive_analysis(..., gold_path=...)``
plus collecting the zone occupancy. Runs of the single-process pandas twin
``scripts/reference_baseline.run_once`` on the same archive interleave with
the units. Each unit is gated: the occupancy must equal the twin's and
the gold table must hold exactly the generator's valid positions.

The traced run first takes the median of three untraced composed runs in
a plain session, then restarts the session with the event log on and
times six successive prefixes of the pipeline, each closed with a noop
sink. All but the gold-write prefix run twice and keep their minimum.
The differences of the prefix times are the layers' self times, and the
last prefix is the composed run itself.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

import aisgen
import analytics
import eventlog
from harness import (WORK, Tally, Tracer, log_units, median_of_ok, metric, noop,
                     reference_baseline, start_session)

MESSAGES = 100_000
VESSELS = 1_000
WARM_MESSAGES = 2_000
UNTRACED_UNITS = 3  # composed runs behind trace_overhead_s's untraced median


def composed(spark, archive: str, gold_path: str) -> dict:
    from pincspark.analysis import batch_archive_analysis

    _, occupancy = batch_archive_analysis(spark, archive, gold_path=gold_path)
    return {r["zone_id"]: (r["n_vessels"], r["n_reports"]) for r in occupancy.collect()}


def twin_occupancy(occ: list[dict]) -> dict:
    # The engine's inner spatial join drops empty zones.
    return {o["zone_id"]: (o["n_vessels"], o["n_reports"]) for o in occ if o["n_reports"]}


class Run(Tally):
    def __init__(self, seed: int):
        super().__init__()
        self.seed = seed
        self.occupancy: dict | None = None
        self.twin_occupancy: dict | None = None

    def setup(self):
        t0 = time.perf_counter()
        os.makedirs(WORK, exist_ok=True)
        self.archive = os.path.join(WORK, "archive.log")
        self.truth = aisgen.write_archive(
            self.archive, self.seed, n_messages=MESSAGES, n_vessels=VESSELS)
        self.warm_archive = os.path.join(WORK, "warm.log")
        aisgen.write_archive(self.warm_archive, self.seed + 7919,
                             n_messages=WARM_MESSAGES, n_vessels=50)
        self.spark = start_session()
        self.run_once = reference_baseline().run_once
        self.warm_up()
        return time.perf_counter() - t0

    def warm_up(self) -> None:
        """A small archive compiles the plans and starts the Python workers;
        one full-size run pays the first-run cost of the page cache and of
        the larger split count."""
        composed(self.spark, self.warm_archive, os.path.join(WORK, "gold_warm0"))
        composed(self.spark, self.archive, os.path.join(WORK, "gold_warm1"))
        self.run_once(self.warm_archive, os.path.join(WORK, "ref_warm.parquet"))

    def unit(self, i: int) -> float:
        """One gated run of the engine; returns its seconds."""
        gold = os.path.join(WORK, f"gold_{i}")
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            occ = composed(self.spark, self.archive, gold)
            wall = time.perf_counter() - t0
            rows = self.spark.read.parquet(gold).count()
            self.check(rows == self.truth.positions,
                       f"gold rows {rows} != truth {self.truth.positions}")
            self.occupancy = occ
            return wall
        except Exception as e:  # a raised run is a failed operation
            self.failed += 1
            self.notes.append(f"unit {i} raised {e!r}")
            return float("nan")
        finally:
            shutil.rmtree(gold, ignore_errors=True)

    def twin(self) -> float:
        """One run of the pandas twin, gated against the engine's occupancy."""
        t0 = time.perf_counter()
        _, ref = self.run_once(self.archive, os.path.join(WORK, "ref.parquet"))
        secs = time.perf_counter() - t0
        self.twin_occupancy = twin_occupancy(ref)
        return secs

    def measure(self, seconds: float, with_twin: bool = True, min_units: int = 2):
        """Engine units until ``seconds`` have passed. With the twin, a twin
        run comes before the first unit and after each one, so the two
        medians span the same stretch of the machine's speed."""
        walls, twins = [], []
        t0 = time.perf_counter()
        if with_twin:
            twins.append(self.twin())
        while len(walls) < min_units or time.perf_counter() - t0 < seconds:
            walls.append(self.unit(len(walls)))
            if with_twin:
                twins.append(self.twin())
                self.check(self.occupancy == self.twin_occupancy,
                           f"occupancy {self.occupancy} != twin {self.twin_occupancy}")
        log_units("archive_day", walls, twins)
        return walls, twins


def run(seed: int, seconds: float, trace: bool) -> tuple[Run, dict]:
    r = Run(seed)
    setup_s = r.setup()
    if not trace:
        walls, twins = r.measure(seconds)
        return r, {
            "wall_s": metric(median_of_ok(walls), "s"),
            "setup_s": metric(setup_s, "s"),
            "vs_reference_ratio": metric(median_of_ok(walls) / median(twins), "ratio"),
        }
    walls, _ = r.measure(0, with_twin=False, min_units=UNTRACED_UNITS)
    untraced = median_of_ok(walls)
    r.spark.stop()
    log_dir = os.path.join(WORK, "eventlog")
    r.spark = start_session(log_dir)
    tracer = Tracer(r.spark)
    layers = traced_layers(r, tracer)
    layers["trace_overhead_s"] = metric(layers["composed_s"]["value"] - untraced, "s")
    layers["untraced_composed_s"] = metric(untraced, "s")
    r.attempted += 1
    layers["reference.twin_s"] = metric(r.twin(), "s")
    r.check(r.twin_occupancy == r.occupancy, "traced occupancy != twin")
    for i in range(2):  # first pass warms the read-side plans
        passes = analytics.run_pass(r.spark, r.gold_path, tracer, tag="" if i else "warm.")
    r.spark.stop()
    folded = eventlog.fold_dir(log_dir)
    composed_ev = folded.get("composed", {})
    layers["spark.task_s"] = metric(composed_ev.get("task_s", 0.0), "s")
    layers["spark.shuffle_write_bytes"] = metric(composed_ev.get("shuffle_write_bytes", 0), "bytes")
    layers["spark.spill_bytes"] = metric(composed_ev.get("spill_bytes", 0), "bytes")
    for name, m in passes.items():
        ev = folded.get(name, {})
        layers[f"{name}.plan_s"] = metric(m["plan_s"], "s")
        layers[f"{name}.exec_s"] = metric(m["exec_s"], "s")
        layers[f"{name}.py4j_calls"] = metric(m["py4j_calls"], "count")
        layers[f"{name}.task_s"] = metric(ev.get("task_s", 0.0), "s")
        layers[f"{name}.shuffle_write_bytes"] = metric(ev.get("shuffle_write_bytes", 0), "bytes")
        layers[f"{name}.spill_bytes"] = metric(ev.get("spill_bytes", 0), "bytes")
    return r, layers


def traced_layers(r: Run, tracer: Tracer) -> dict:
    """Prefix timings -> self times, plus exact counts checked against the
    generator's truth."""
    from pyspark.sql import functions as F

    from pincspark.analysis import GOLD_TYPES, build_gold_fused
    from pincspark.decode.kernel import checksum_valid, routing_message_type
    from pincspark.sources.nmea_source import (
        read_and_decode, read_archive, reassemble, tokenize_sentences, with_tagblock_ts)

    spark, path = r.spark, r.archive

    def tokenized():
        return tokenize_sentences(with_tagblock_ts(read_archive(spark, path)))

    def decoded():
        return read_and_decode(spark, path, message_types=GOLD_TYPES, stage_decoded=False)

    gold_path = os.path.join(WORK, "gold_prefix")
    prefixes = [
        ("nmea_source.scan_tokenize_s",
         lambda: noop(tokenized().filter(checksum_valid(F.col("sentence"))))),
        ("nmea_source.reassemble_s", lambda: noop(reassemble(tokenized()))),
        ("kernel.decode_s", lambda: noop(decoded())),
        ("analysis.gold_asof_s", lambda: noop(build_gold_fused(decoded()))),
        ("analysis.gold_write_s",
         lambda: build_gold_fused(decoded()).write.mode("overwrite").parquet(gold_path)),
    ]
    r.gold_path = os.path.join(WORK, "gold_composed")

    def whole():
        r.occupancy = composed(spark, path, r.gold_path)

    prefixes.append(("geo.occupancy_s", whole))
    # The restarted session has new Python workers, and the first four
    # prefixes are plan shapes the composed run never builds: those four and
    # the composed run go twice and keep their minimum, as a shared
    # machine's noise only slows a run down. The gold-write prefix is the
    # write the composed run also makes, so the first round warms it too;
    # running it once keeps the traced run inside its time limit.
    best: dict[str, float] = {}
    for rnd, batch in enumerate((prefixes[:4] + prefixes[5:], prefixes)):
        for name, fn in batch:
            group = "composed" if fn is whole else "prefix." + name
            with tracer.group(group if rnd else "warm." + group):
                calls0 = tracer.calls
                t0 = time.perf_counter()
                fn()
                t = time.perf_counter() - t0
            best[name] = min(best.get(name, t), t)
    r.attempted += 1
    out: dict = {"analysis.py4j_calls": metric(tracer.calls - calls0, "count")}
    prev = 0.0
    for name, _ in prefixes:
        out[name] = metric(best[name] - prev, "s")
        prev = best[name]
    out["composed_s"] = metric(prev, "s")

    truth = r.truth
    with tracer.group("counts"):
        tok = tokenized()
        valid = checksum_valid(F.col("sentence"))
        c = tok.agg(
            F.count(F.lit(1)).alias("lines"),
            F.sum(F.when(~valid, 1).otherwise(0)).alias("rejects"),
            F.sum(F.when(valid & (F.col("total") > 1) & (F.col("num") == 1), 1)
                  .otherwise(0)).alias("starts"),
        ).first()
        re = reassemble(tok)
        m = re.agg(
            F.count(F.lit(1)).alias("msgs"),
            F.sum(F.when(F.col("n_sentences") > 1, 1).otherwise(0)).alias("multi"),
            F.sum(F.when(routing_message_type(F.col("payload")).isin(*GOLD_TYPES), 1)
                  .otherwise(0)).alias("routed"),
        ).first()
        null_decodes = decoded().filter(F.col("ais.messageType").isNull()).count()
        g = spark.read.parquet(r.gold_path).agg(
            F.count(F.lit(1)).alias("rows"),
            F.count("ts_right").alias("hits"),
        ).first()
    counts = {
        "nmea_source.lines": (c["lines"], truth.lines),
        "nmea_source.checksum_rejects": (c["rejects"], truth.checksum_rejects),
        "nmea_source.incomplete_groups": (c["starts"] - m["multi"], truth.incomplete_groups),
        "nmea_source.msgs": (m["msgs"], truth.msgs),
        "kernel.routed_msgs": (m["routed"], truth.positions + truth.statics),
        "kernel.null_decodes": (null_decodes, 0),
        "analysis.gold_rows": (g["rows"], truth.positions),
    }
    for name, (got, want) in counts.items():
        r.attempted += 1
        r.check(got == want, f"{name} {got} != truth {want}")
        out[name] = metric(got, "count")
    out["asof.static_hit_ratio"] = metric(g["hits"] / max(g["rows"], 1), "ratio")
    out["geo.zone_hits"] = metric(sum(n for _, n in r.occupancy.values()), "count")
    return out

