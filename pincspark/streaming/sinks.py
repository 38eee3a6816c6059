"""Sinks (ST3/ST4/J5): micro-batched fact-table appends and keyed
latest-state upserts.

Reference parity:
- ais_egressServerCH.py:107-191 buffers 20 rows per ClickHouse table then
  bulk-inserts — Structured Streaming's micro-batch model subsumes the
  hand-rolled buffer; ``append_stream`` is the fact-table path.
- ais_ivef.py:286-312 upserts the latest track state per Id into Postgres
  (query-then-update) — ``upsert_latest`` is the MERGE analog; in
  production back it with Delta ``MERGE INTO`` or a JDBC upsert; the
  parquet implementation here keeps the engine dependency-free.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pincspark.operators.keyed import latest_per_key


def append_stream(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: Sequence[str] = (),
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """ST3: append a stream to a partitioned parquet fact table."""
    w = df.writeStream.format("parquet").option("path", path).option(
        "checkpointLocation", checkpoint
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if trigger_seconds:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.outputMode("append").start()


def upsert_latest(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    key: str | Sequence[str],
    order_col: str,
) -> None:
    """J5 MERGE analog: fold a batch into a latest-state parquet table.

    Existing state (if any) is unioned with the batch and reduced to the
    newest row per key (deterministic tie-break on the key itself happens in
    latest_per_key's caller-supplied ordering; here order_col desc).

    Swap discipline: write to tmp, rename the live table ASIDE, rename tmp
    into place, then delete the old copy — a crash at any step leaves a
    recoverable table (live, or aside as ``path.__old__``), never a window
    where the state is deleted but the replacement hasn't landed (plain
    rmtree-then-rename has exactly that window). Single-writer semantics
    (foreachBatch serializes batches); production multi-writer belongs on a
    format with transactional commits (Delta MERGE), as noted above.
    """
    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)
    old = path + ".__old__"
    if os.path.exists(old) and not os.path.exists(path):
        # recover from a crash between rename-aside and rename-into-place
        os.rename(old, path)
    if os.path.exists(path):
        current = spark.read.parquet(path)
        merged = current.unionByName(batch_df, allowMissingColumns=True)
    else:
        merged = batch_df
    latest = latest_per_key(merged, keys, order_by=[F.col(order_col).desc()])
    tmp = path + ".__tmp__"
    latest.write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def update_sketch_table(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 256,
) -> None:
    """Fold a micro-batch into a persisted KMV sketch parquet table
    (`pincspark.operators.sketches.kmv_update`): distinct-count state that
    stays a few KB per group no matter how much history has flowed past —
    the streaming analog of q75/q76's persisted-sketch steady state. Work
    per batch is O(batch + sketch rows); history is never rescanned.

    Same crash-safe swap discipline as :func:`upsert_latest` (tmp ->
    aside -> rename), single-writer semantics under foreachBatch.
    """
    from pincspark.operators.sketches import kmv_sketch, kmv_update

    groups = list(group_cols)
    old = path + ".__old__"
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    if os.path.exists(path):
        sketch = kmv_update(
            spark.read.parquet(path), batch_df, groups, value_col, k=k
        )
    else:
        sketch = kmv_sketch(batch_df, groups, value_col, k=k)
    tmp = path + ".__tmp__"
    sketch.select(*groups, "h", "rn").write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def update_scd2_table(
    spark: SparkSession,
    batch_df: DataFrame,
    path: str,
    key_cols: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
) -> None:
    """Fold a micro-batch of change events into a persisted SCD2 version
    table (`pincspark.operators.scd.scd2_merge`): only the batch's keys
    are replayed, everything else passes through — the dimension-history
    analog of :func:`upsert_latest` (which keeps just the newest row).
    Same crash-safe swap, single-writer semantics."""
    from pincspark.operators.scd import scd2_from_events, scd2_merge

    keys, attrs = list(key_cols), list(attr_cols)
    old = path + ".__old__"
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    if os.path.exists(path):
        merged = scd2_merge(
            spark.read.parquet(path), batch_df, keys, ts_col, attrs
        )
    else:
        merged = scd2_from_events(batch_df, keys, ts_col, attrs)
    tmp = path + ".__tmp__"
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def foreach_batch_scd2(
    path: str, key_cols: Sequence[str], ts_col: str, attr_cols: Sequence[str]
):
    """writeStream.foreachBatch adapter for :func:`update_scd2_table`."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        update_scd2_table(
            batch_df.sparkSession, batch_df, path, key_cols, ts_col, attr_cols
        )

    return _fn


def foreach_batch_sketch(
    path: str, group_cols: Sequence[str], value_col: str, k: int = 256
):
    """writeStream.foreachBatch adapter for :func:`update_sketch_table`."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        update_sketch_table(
            batch_df.sparkSession, batch_df, path, group_cols, value_col, k=k
        )

    return _fn
