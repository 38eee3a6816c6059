"""Scale utilities: skew-salted joins and bucketed co-located tables.

The reference runs single-process and never meets skew or shuffle cost; at
100 TB they dominate. Three mechanisms, in preference order:

1. **AQE skew-join** — enabled globally in ``pincspark.session`` (splits
   oversized partitions at runtime); zero code.
2. **Salted join** — when one side's key distribution is brutal (a handful
   of mmsi values carrying most of the traffic), explode the small side
   ``salt`` ways and spread the big side uniformly; removes the hot
   partition deterministically.
3. **Bucketed tables** — pre-shuffle fact tables on their join key at write
   time; subsequent joins/aggregations on that key plan ZERO exchanges.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to a skewed ``big`` side: ``big`` rows get a random
    salt in [0, salt); ``small`` rows are replicated once per salt value, so
    every (key, salt) bucket joins locally. Results are exactly the plain
    join's (salt columns are internal)."""
    big_s = big.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = big_s.join(small_s, [key, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str | Sequence[str],
    buckets: int = 32,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist as a bucketed (and bucket-sorted) table: joins and
    aggregations on ``key`` between tables bucketed the same way need no
    exchange and no sort. Default is a managed table under the session
    warehouse; pass ``path`` (r11) for an EXTERNAL table whose storage
    root the caller controls — the q93 driver gate uses a pid-keyed /tmp
    scratch this way. Bucket counts must MATCH across tables meant to
    co-join (unequal counts fall back to a shuffle — pinned in
    tests/test_bucketing.py)."""
    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    if path is not None:
        # DROP on an EXTERNAL table leaves its data files behind, so a
        # repeat write to the same path would be a CTAS into a non-empty
        # location, which Spark rejects (ADVICE r11 #2). Clear the
        # location so the rewrite semantics match the managed-table
        # overwrite path.
        import shutil

        local = path[5:].lstrip("/") if path.startswith("file:") else path
        if path.startswith("file:"):
            local = "/" + local
        shutil.rmtree(local, ignore_errors=True)
    # Repartition onto the bucket key BEFORE the bucketed write (r11): a
    # bucketed write does not shuffle by itself, so without this every
    # write task emits a file into every bucket — num_tasks x buckets
    # small files, the 100-TB small-files anti-pattern (and measured 1.6x
    # slower end-to-end at bench scale). One task per bucket writes ONE
    # file per bucket, which also lets sorted bucket scans skip their
    # merge-join sorts. Size ``buckets`` so a bucket ~= a healthy file
    # (same rule as any partitioned write); write parallelism == buckets.
    df = df.repartition(buckets, *keys)
    w = df.write.mode("overwrite").bucketBy(buckets, *keys)
    if path is not None:
        w = w.format("parquet").option("path", path)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table_name)


def register_existing_bucketed(
    spark: SparkSession,
    table_name: str,
    path: str,
    schema_ddl: str,
    key: str | Sequence[str],
    buckets: int,
    sort: bool = True,
) -> None:
    """Re-attach an already-written bucketed directory to a fresh session's
    catalog (r11): the in-memory catalog forgets tables on restart, a
    Hive/Glue metastore would not — this is the restart path that keeps
    the exchange-free property without rewriting the data. The DDL must
    match what :func:`write_bucketed` produced."""
    keys = [key] if isinstance(key, str) else list(key)
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    sorted_clause = f"SORTED BY ({', '.join(keys)}) " if sort else ""
    spark.sql(
        f"CREATE TABLE {table_name} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({', '.join(keys)}) {sorted_clause}"
        f"INTO {buckets} BUCKETS LOCATION '{path}'"
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str | Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables — the physical plan is exchange-free
    (verified in tests/test_scale.py and tests/test_bucketing.py)."""
    keys = [key] if isinstance(key, str) else list(key)
    return spark.table(left_table).join(spark.table(right_table), keys, how)
