"""As-of join (J1): for each left row, attach the most recent right row with
``right.ts <= left.ts`` within the same key group.

Reference parity: ``pd.merge_asof(posdataset, staticdataset, on="ts",
by="mmsi")`` at ais_analysis.py:476 (polars ``join_asof`` twin at
ais_analysis_polars.py:474) — backward direction, inclusive on equal
timestamps, left rows with no prior right row keep nulls.

Spark-first implementation: a **union + carry-forward window** rather than a
range join. Both inputs are tagged and unioned, then a single window
``partitionBy(key).orderBy(ts, side)`` carries the latest right ROW forward
as one struct with ``last(..., ignorenulls=True)`` (struct-wise, so NULL
fields of the matched row survive like merge_asof). This costs exactly ONE shuffle
on the key (the same shuffle a groupBy would need) and no join at all —
at 100 TB this beats the naive range-join + re-rank formulation, which
explodes into an O(n*m) intermediate per key before ranking. Skewed keys are
handled by AQE; the window is a running frame, so no per-key materialization
beyond the sort.

Tie semantics: on equal ts the right (static) row sorts FIRST (side 0 < 1),
making the join backward-INCLUSIVE, exactly like merge_asof.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def carry_forward(tagged: DataFrame, on: str, by: Sequence[str]) -> DataFrame:
    """The as-of window over a tagged union of both sides: ``__side`` is 0
    on right rows and 1 on left rows, and right rows carry their payload
    as the ``__carry`` struct (null on left rows). Returns the left rows
    with ``__c``, the latest ``__carry`` at or before each row's ``on``
    within its ``by`` group.

    Right rows sort before left rows on ``on`` ties, so the join is
    backward-INCLUSIVE, exactly like merge_asof."""
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn("__c", F.last("__carry", ignorenulls=True).over(w))
    return filled.filter(F.col("__side") == 1)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | Sequence[str],
    right_cols: Sequence[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Backward-inclusive as-of join.

    Args:
        left: the probe side (e.g. position reports).
        right: the build side whose latest-as-of row is attached (e.g. static
            voyage data).
        on: ordering column name (must exist in both; e.g. event time).
        by: equi-key column(s) (e.g. mmsi / user_id).
        right_cols: right columns to carry (default: all except ``on``/``by``).
        suffix: rename applied to carried right columns that collide with
            left column names; the right's ``on`` column is always carried as
            ``on + suffix``.
    """
    from pyspark.sql import types as T

    by_cols = [by] if isinstance(by, str) else list(by)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in set(by_cols) | {on}]

    carried = {c: c + suffix if c in left.columns else c for c in right_cols}
    carried_on = on + suffix

    # The carried right columns travel as ONE struct, so the window's
    # last(ignorenulls=True) picks the single latest right ROW — NULL fields
    # included — exactly like merge_asof attaching the matched row. Carrying
    # columns individually would coalesce each from a DIFFERENT right row
    # whenever right rows hold NULLs (e.g. type-24 part A vs part B statics
    # null different fields).
    carry_type = T.StructType(
        [T.StructField(carried[c], right.schema[c].dataType, True) for c in right_cols]
        + [T.StructField(carried_on, right.schema[on].dataType, True)]
    )
    l_tagged = left.withColumn("__side", F.lit(1)).withColumn(
        "__carry", F.lit(None).cast(carry_type)
    )
    r_tagged = right.select(
        *by_cols,
        F.col(on),
        F.lit(0).alias("__side"),
        F.struct(
            *[F.col(c).alias(carried[c]) for c in right_cols],
            F.col(on).alias(carried_on),
        ).alias("__carry"),
    )
    for c in left.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))

    filled = carry_forward(l_tagged.unionByName(r_tagged), on, by_cols)
    return filled.select(
        *[c for c in left.columns],
        *[F.col("__c").getField(carried[c]).alias(carried[c]) for c in right_cols],
        F.col("__c").getField(carried_on).alias(carried_on),
    )


def asof_join_grouped(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: Sequence[str] | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Alternative J1 implementation: per-key ``pd.merge_asof`` via
    cogrouped ``applyInPandas`` (SURVEY §2.4 option (c)).

    Semantics identical to :func:`asof_join` (backward-inclusive). Use when
    per-key group fit is guaranteed and the pandas kernel wins (e.g. many
    carried columns where the union+window's null-widening costs more than
    Arrow transfer); the window variant remains the default scale path.
    """
    import pandas as pd

    by_cols = [by]
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in {by, on}]
    carried = {c: c + suffix if c in left.columns else c for c in right_cols}
    carried_on = on + suffix

    r = right.select(by, F.col(on).alias(carried_on), *[
        F.col(c).alias(carried[c]) for c in right_cols
    ])

    out_schema = left.schema
    from pyspark.sql import types as T

    fields = list(out_schema.fields) + [
        T.StructField(carried[c], right.schema[c].dataType, True) for c in right_cols
    ] + [T.StructField(carried_on, right.schema[on].dataType, True)]
    schema = T.StructType(fields)

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=[f.name for f in fields])
        lpdf = lpdf.sort_values(on)
        rpdf = rpdf.sort_values(carried_on)
        merged = pd.merge_asof(
            lpdf, rpdf.drop(columns=[by]), left_on=on, right_on=carried_on,
            direction="backward", allow_exact_matches=True,
        )
        return merged[[f.name for f in fields]]

    return (
        left.groupBy(by)
        .cogroup(r.groupBy(by))
        .applyInPandas(merge, schema=schema)
    )
