"""The reference's flagship batch analysis (ais_analysis.py:main, 308-498)
as one composed Spark pipeline:

    archive text -> validate/reassemble -> decode -> as-of gold per mmsi
    -> gold parquet -> zone spatial join -> distinct-vessel occupancy

Stage-for-stage parity with SURVEY §3.1; every hop is one of the engine's
operators, so the whole job is: scan -> narrow decode -> ONE shuffle on
mmsi (as-of) -> broadcast zone predicate -> low-card agg. At 100 TB the
only wide exchange is the mmsi shuffle, which AQE skew-handles.

The gold table has ONE builder, :func:`build_gold_fused`: a single narrow
projection over the decoded frame feeding the shared as-of window
(:func:`pincspark.operators.asof.carry_forward`), so ``decoded`` has one
consumer. Staging is the one ``pincspark.staging.stage`` path: the
reassembly's validated frame is staged once (its three consumers), and the
decoded frame is staged only when the two RETURNED lazy frames share it
(no ``gold_path``). Either way the flagship executes exactly 1 FileScan +
1 ArrowEvalPython (asserted in tests/test_plans.py through
``planhooks.capture_staged_plans``) — the reference reads the day file
once too (ais_analysis.py:318-321).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pincspark.operators.asof import carry_forward
from pincspark.operators.geo import zone_occupancy
from pincspark.sources.nmea_source import read_and_decode

STATIC_COLS = ["shipName", "shipType", "callsign", "destination", "draught"]


def build_gold_fused(decoded: DataFrame) -> DataFrame:
    """J1, the gold table: each position (types 1/2/3) enriched with the
    latest static report (types 5 and 24) of the same vessel, like the
    reference's ``merge_asof`` (ais_analysis.py:476), in ONE narrow pass
    over ``decoded``.

    One projection filters to the five gold message types, CASEs the
    position fields (null on static rows), CASEs the carried static struct
    (null on position rows; msg-24 part A carries shipName, part B
    shipType/callsign, and destination/draught are null-filled, P24
    semantics) and tags the side; :func:`carry_forward` then runs the
    as-of window. ``decoded`` has ONE consumer, so the Arrow decode stage
    pipelines straight into the as-of exchange with no staging barrier.
    Row-identical to the pandas twin's ``merge_asof`` gold (pinned in
    tests/test_analysis.py)."""
    from pincspark.catalog import POSITION

    t = F.col("ais.messageType")
    is_pos = t.isin(1, 2, 3)
    pos_fields = POSITION.fieldNames()

    def _static(prefix: str, absent: dict[str, str]) -> F.Column:
        cols = []
        for c in STATIC_COLS:
            if c in absent:
                cols.append(F.lit(None).cast(absent[c]).alias(c))
            else:
                cols.append(F.col(f"ais.{prefix}.{c}").alias(c))
        return F.struct(*cols, F.col("ts").alias("ts_right"))

    unioned = decoded.filter(t.isin(1, 2, 3, 5, 24)).select(
        F.col("ts"),
        F.col("ais.mmsi").alias("mmsi"),
        *[
            F.when(is_pos, F.col(f"ais.position.{c}")).alias(c)
            for c in pos_fields
        ],
        F.when(is_pos, F.lit(1)).otherwise(F.lit(0)).alias("__side"),
        F.when(t == 5, _static("static_voyage", {}))
        .when(
            t == 24,
            _static(
                "static_report", {"destination": "string", "draught": "double"}
            ),
        )
        .alias("__carry"),
    )
    filled = carry_forward(unioned, "ts", ["mmsi"])
    return filled.select(
        "ts",
        "mmsi",
        *pos_fields,
        *[F.col("__c").getField(c).alias(c) for c in STATIC_COLS],
        F.col("__c").getField("ts_right").alias("ts_right"),
    )


# The five message types the gold pipeline consumes; F1-routed below the
# Python decode stage (see read_and_decode's message_types).
GOLD_TYPES = (1, 2, 3, 5, 24)


def batch_archive_analysis(
    spark: SparkSession,
    archive_path: str,
    gold_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full §3.1 pipeline. Returns (gold, occupancy); writes/re-reads the
    gold parquet when ``gold_path`` is given (the reference persists then
    analyzes, ais_analysis.py:477-486).

    With ``gold_path`` set, the gold write is the ONLY consumer of the
    decoded frame (occupancy reads the parquet back), so the decode
    staging barrier is skipped and the whole pipeline is two jobs: write
    gold, then aggregate occupancy. Without it, the two RETURNED lazy
    frames share the decode subtree, so staging stays on to keep the
    single-decode guarantee."""
    decoded = read_and_decode(
        spark,
        archive_path,
        message_types=GOLD_TYPES,
        stage_decoded=gold_path is None,
    )
    gold = build_gold_fused(decoded)
    if gold_path is not None:
        gold.write.mode("overwrite").parquet(gold_path)
        gold = spark.read.parquet(gold_path)

    occupancy = zone_occupancy(
        gold.filter(F.col("longitude").isNotNull())
    ).withColumnRenamed("n_points", "n_reports")
    return gold, occupancy
