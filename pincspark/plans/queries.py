"""The query catalog: every operator from SURVEY.md §2 that is expressible on
the driver's synthetic tables, as (Spark callable, DuckDB oracle SQL) pairs.

Numeric-determinism rules (so the oracle value-hash matches bit-for-bit):
- Money/metric doubles in the testdata are exact 2-decimal values, so every
  SUM goes through DECIMAL(18,2/4/6) arithmetic (exact, order-independent)
  and is cast to DOUBLE only at the end; AVGs divide the exact decimal sum by
  the exact count in double (one deterministic IEEE division).
- Timestamps are output as unix microseconds (BIGINT) — except q04, which
  deliberately keeps a raw timestamp column.
- Floating similarity scores are rounded to 6 dp on both sides, and every
  ranking has an integer tie-breaker.

Each Spark callable has signature (spark, sf_dir) -> DataFrame. Column names
are aliased identically on both sides (the driver sorts columns by name
before hashing).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pincspark.decode.kernel import armor_vals_sql, decode_sql, layout_sql, routed_sql
from pincspark.decode.vectorized import I, TEXT, U, VEC_ENTRIES
from pincspark.functions import text as TXT
from pincspark.operators.asof import asof_join
from pincspark.operators.dedup import (
    MINHASH_PERMS,
    MINHASH_PRIME,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from pincspark.operators.keyed import latest_per_key, sessionize, validity_intervals
from pincspark.staging import stage
from pincspark.operators.normalize import union_normalize
from pincspark.operators.similarity import cosine_topk, ivf_topk
from pincspark.sources.tables import table

QueryFn = Callable[[SparkSession, str], DataFrame]

D2 = "DECIMAL(18,2)"


def _dec2(c: str) -> F.Column:
    return F.col(c).cast(D2)


# --------------------------------------------------------------------------
# Relational core (SURVEY §2.1-2.7)
# --------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3 flagship agg: TPC-H-Q1-style pricing summary over lineitem.
    Scan -> pushed filter -> hash agg (map-side partial) on two low-card
    keys; no join. (Reference analog: per-type summary aggregation of the
    decoded day, ais_analysis.py:460-492.)"""
    li = table(spark, sf_dir, "lineitem")
    disc = F.expr(f"CAST(CAST(l_extendedprice AS {D2}) * (CAST(1 AS {D2}) - CAST(l_discount AS {D2})) AS DECIMAL(18,4))")
    charge = F.expr(
        f"CAST(CAST(CAST(l_extendedprice AS {D2}) * (CAST(1 AS {D2}) - CAST(l_discount AS {D2})) AS DECIMAL(18,4))"
        f" * (CAST(1 AS {D2}) + CAST(l_tax AS {D2})) AS DECIMAL(24,6))"
    )
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec2("l_quantity")).alias("_sq"),
            F.sum(_dec2("l_extendedprice")).alias("_sbp"),
            F.sum(disc).alias("_sdp"),
            F.sum(charge).alias("_sc"),
            F.sum(_dec2("l_discount")).alias("_sd"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    n = F.col("count_order").cast("double")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sq").cast("double").alias("sum_qty"),
        F.col("_sbp").cast("double").alias("sum_base_price"),
        F.col("_sdp").cast("double").alias("sum_disc_price"),
        F.col("_sc").cast("double").alias("sum_charge"),
        F.round(F.col("_sq").cast("double") / n, 6).alias("avg_qty"),
        F.round(F.col("_sbp").cast("double") / n, 6).alias("avg_price"),
        F.round(F.col("_sd").cast("double") / n, 6).alias("avg_disc"),
        "count_order",
    )


ORACLE_Q01 = f"""
WITH a AS (
  SELECT l_returnflag, l_linestatus,
         SUM(CAST(l_quantity AS {D2})) AS _sq,
         SUM(CAST(l_extendedprice AS {D2})) AS _sbp,
         SUM(CAST(CAST(l_extendedprice AS {D2}) * (CAST(1 AS {D2}) - CAST(l_discount AS {D2})) AS DECIMAL(18,4))) AS _sdp,
         SUM(CAST(CAST(CAST(l_extendedprice AS {D2}) * (CAST(1 AS {D2}) - CAST(l_discount AS {D2})) AS DECIMAL(18,4))
             * (CAST(1 AS {D2}) + CAST(l_tax AS {D2})) AS DECIMAL(24,6))) AS _sc,
         SUM(CAST(l_discount AS {D2})) AS _sd,
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(_sq AS DOUBLE) AS sum_qty,
       CAST(_sbp AS DOUBLE) AS sum_base_price,
       CAST(_sdp AS DOUBLE) AS sum_disc_price,
       CAST(_sc AS DOUBLE) AS sum_charge,
       ROUND(CAST(_sq AS DOUBLE) / CAST(count_order AS DOUBLE), 6) AS avg_qty,
       ROUND(CAST(_sbp AS DOUBLE) / CAST(count_order AS DOUBLE), 6) AS avg_price,
       ROUND(CAST(_sd AS DOUBLE) / CAST(count_order AS DOUBLE), 6) AS avg_disc,
       count_order
FROM a
"""


def q02_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop equi joins + agg: revenue by market segment. customer is
    small relative to lineitem -> broadcast both dimension hops.

    Shape: pre-aggregate the fact by l_orderkey FIRST, then join. The
    naive form (join fact, then countDistinct(o_orderkey) in the segment
    agg) plans an Expand that doubles every fact row through the shuffle;
    pre-agg instead shuffles one partial row per ORDER (~4x fewer than
    items, with map-side combine collapsing the naturally orderkey-
    clustered fact before the exchange), the broadcast joins then touch
    only per-order rows, and the distinct is free — each group IS a
    distinct order, so the segment agg is a plain count. Same rows, same
    decimal sums (sum-of-sums at unchanged scale), measured ~1.8x faster
    at sf0.1 — and at 100 TB the win grows: the expanded-fact shuffle is
    the plan's largest exchange, the per-order one is bounded by the
    orders table.

    No broadcast hint on orders: it is fact-proportional (~1/4 of lineitem
    rows — terabytes at 100 TB), so a forced broadcast OOMs at scale; the
    planner (with AQE) picks broadcast when it actually fits and falls back
    to a shuffle join on the already-clustered orderkey otherwise. The hint
    stays only on customer, a true dimension."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    disc = F.expr(f"CAST(CAST(l_extendedprice AS {D2}) * (CAST(1 AS {D2}) - CAST(l_discount AS {D2})) AS DECIMAL(18,4))")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(disc).alias("_r"), F.count(F.lit(1)).alias("_n")
    )
    joined = per_order.join(
        orders.select("o_orderkey", "o_custkey"),
        per_order.l_orderkey == orders.o_orderkey,
    ).join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.sum("_r").alias("_rev"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("_n").alias("n_items"),
        )
        .select(
            "c_mktsegment",
            F.col("_rev").cast("double").alias("revenue"),
            "n_orders",
            "n_items",
        )
    )


ORACLE_Q02 = f"""
SELECT c_mktsegment,
       CAST(SUM(CAST(CAST(l_extendedprice AS {D2}) * (CAST(1 AS {D2}) - CAST(l_discount AS {D2})) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q03_region_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P22/J4/J3: enum/dimension broadcast enrichment chain
    customer -> nation -> region (the AtoN/shiptype lookup analog,
    ais_webSocketServer.py:191-193), then per-region stats."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    enriched = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    return (
        enriched.groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.countDistinct("n_name").alias("n_nations"),
            F.sum(_dec2("c_acctbal")).alias("_bal"),
        )
        .select(
            "region_name",
            "n_customers",
            "n_nations",
            F.col("_bal").cast("double").alias("total_acctbal"),
            F.round(
                F.col("_bal").cast("double") / F.col("n_customers").cast("double"), 6
            ).alias("avg_acctbal"),
        )
    )


ORACLE_Q03 = f"""
WITH a AS (
  SELECT r_name AS region_name, COUNT(*) AS n_customers,
         CAST(COUNT(DISTINCT n_name) AS BIGINT) AS n_nations,
         SUM(CAST(c_acctbal AS {D2})) AS _bal
  FROM customer JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name
)
SELECT region_name, n_customers, n_nations,
       CAST(_bal AS DOUBLE) AS total_acctbal,
       ROUND(CAST(_bal AS DOUBLE) / CAST(n_customers AS DOUBLE), 6) AS avg_acctbal
FROM a
"""


def q04_event_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F3 routing filters on the event stream (messageType routing
    analog): type-set membership + value predicate, pushed to the scan."""
    ev = table(spark, sf_dir, "events")
    return ev.filter(
        F.col("event_type").isin("click", "view") & (F.col("value") > 5.0)
    ).select(
        "event_id", "user_id", "event_type", "ts",
        F.unix_micros(F.col("ts")).alias("ts_us"),  # epoch twin of the raw-ts probe
        "value",
    )


ORACLE_Q04 = """
SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS ts_us, value
FROM events
WHERE event_type IN ('click', 'view') AND value > 5.0
"""


def q05_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P28 semi-structured extraction: pull props.k out of the JSON payload
    (from_json/get_json_object), aggregate per type."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


ORACLE_Q05 = """
WITH e AS (
  SELECT event_type, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k
  FROM events
)
SELECT event_type, CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k, COUNT(*) AS n
FROM e GROUP BY event_type
"""


def q06_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 as-of join (the reference's merge_asof at ais_analysis.py:476):
    each non-signup event gets the latest signup row of the same user with
    signup.ts <= event.ts (backward-inclusive; none -> nulls)."""
    ev = table(spark, sf_dir, "events")
    obs = ev.filter(F.col("event_type") != "signup").select(
        "event_id", "user_id", "event_type", "ts"
    )
    sig = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("signup_event_id")
    )
    joined = asof_join(obs, sig, on="ts", by="user_id", right_cols=["signup_event_id"])
    return joined.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "signup_event_id",
        F.unix_micros(F.col("ts_right")).alias("signup_ts_us"),
    )


ORACLE_Q06 = """
WITH obs AS (
  SELECT event_id, user_id, event_type, ts FROM events WHERE event_type <> 'signup'
), sig AS (
  SELECT event_id AS signup_event_id, user_id, ts FROM events WHERE event_type = 'signup'
)
SELECT obs.event_id, obs.user_id, obs.event_type, epoch_us(obs.ts) AS ts_us,
       sig.signup_event_id, epoch_us(sig.ts) AS signup_ts_us
FROM obs ASOF LEFT JOIN sig ON obs.user_id = sig.user_id AND sig.ts <= obs.ts
"""


def q07_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 latest-row-per-key (the IVEF latest-track upsert analog,
    ais_ivef.py:286-312): most recent order per customer."""
    orders = table(spark, sf_dir, "orders")
    latest = latest_per_key(
        orders,
        "o_custkey",
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return latest.select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("latest_orderdate_us"),
        F.col("o_totalprice").alias("latest_totalprice"),
        F.col("o_orderstatus").alias("latest_status"),
    )


ORACLE_Q07 = """
SELECT o_custkey, o_orderkey AS latest_orderkey,
       epoch_us(o_orderdate) AS latest_orderdate_us,
       o_totalprice AS latest_totalprice, o_orderstatus AS latest_status
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q08_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 lead-window validity intervals (next report ts per key, fillna with
    own ts — the declared-intent window logic at ais_analysis.py:445-453),
    over each user's signup events."""
    ev = table(spark, sf_dir, "events")
    sig = ev.filter(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    iv = validity_intervals(sig, key="user_id", ts="ts")
    return iv.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
    )


ORACLE_Q08 = """
WITH sig AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
)
SELECT event_id, user_id, epoch_us(ts) AS valid_from_us,
       epoch_us(COALESCE(lead(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)) AS valid_to_us
FROM sig
"""


def q09_union_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P24 schema normalization / union-by-name (the DAC533 layout
    normalizer analog, ais_egressServerCH.py:23-65): customers and suppliers
    into one party table, missing columns null-filled, source tagged."""
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("party_key"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("party_key"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return union_normalize([cust, supp], tag_col="src", tags=["customer", "supplier"])


ORACLE_Q09 = """
SELECT c_custkey AS party_key, c_name AS name, c_nationkey AS nationkey,
       c_acctbal AS acctbal, c_mktsegment AS mktsegment, 'customer' AS src
FROM customer
UNION ALL
SELECT s_suppkey, s_name, s_nationkey, s_acctbal, NULL, 'supplier' FROM supplier
"""


def q10_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 distinct-key aggregation (unique-vessel counting,
    ais_analysis.py:491-492): exact distinct users + totals per event type."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec2("value")).alias("_sv"),
        )
        .select(
            "event_type", "n_users", "n_events",
            F.col("_sv").cast("double").alias("sum_value"),
        )
    )


ORACLE_Q10 = f"""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS {D2})) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def q11_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) per-key window aggregation over event time —
    decimal-exact so the cumulative doubles match the oracle bit-for-bit."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.sum(_dec2("value")).over(w).cast("double").alias("running_spend"),
    )


ORACLE_Q11 = f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(SUM(CAST(value AS {D2})) OVER (
         PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_spend
FROM events WHERE event_type = 'purchase'
"""


def q12_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tie-break: 10 highest-spend customers."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.sum(_dec2("o_totalprice")).alias("_t"), F.count(F.lit(1)).alias("n_orders"))
        .select("o_custkey", F.col("_t").cast("double").alias("total_spend"), "n_orders")
        .orderBy(F.col("total_spend").desc(), F.col("o_custkey").asc())
        .limit(10)
    )


ORACLE_Q12 = f"""
SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS {D2})) AS DOUBLE) AS total_spend,
       COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey
ORDER BY total_spend DESC, o_custkey ASC LIMIT 10
"""


def q13_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 batch analog — gap-based sessionization (multi-part grouping
    generalized): 30-minute-gap sessions per user, session/event counts."""
    ev = table(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800)
    return s.groupBy("user_id").agg(
        (F.max("session_id") + F.lit(1)).cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_Q13 = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) <= 1800000000
              THEN 0 ELSE 1 END AS boundary
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, CAST(1 + SUM(boundary) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM g GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Training-data pipeline extensions: dedup / text / similarity
# --------------------------------------------------------------------------

# DuckDB equivalents of pincspark.functions.text primitives.
_SQL_NORM = "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
_SQL_TOKS = "list_filter(regexp_split_to_array({c}, ' +'), t -> t <> '')"


def q14_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content md5 fingerprint: group sizes +
    representative flags (one uniform-key shuffle; scales linearly)."""
    docs = table(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


ORACLE_Q14 = f"""
WITH fp AS (
  SELECT doc_id, md5({_SQL_NORM.format(c='text')}) AS fingerprint FROM documents
)
SELECT doc_id, fingerprint,
       COUNT(*) OVER (PARTITION BY fingerprint) AS group_size,
       doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep
FROM fp
"""


def q15_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token stats, stopword/punctuation ratios, composite
    heuristic score — all JVM-side column expressions."""
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TXT.token_count(t).cast("bigint").alias("n_tokens"),
        F.round(TXT.avg_word_len(t), 6).alias("avg_word_len"),
        F.round(TXT.stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(TXT.punct_ratio(t), 6).alias("punct_ratio"),
        TXT.quality_score(t).alias("quality"),
    )


_SQL_STOPS = "['the', 'a', 'of', 'and', 'is', 'to', 'in']"

ORACLE_Q15 = f"""
WITH b AS (
  SELECT doc_id, text,
         {_SQL_TOKS.format(c='text')} AS toks,
         {_SQL_TOKS.format(c='lower(text)')} AS ltoks
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS awl,
         CAST(len(list_filter(ltoks, t -> list_contains({_SQL_STOPS}, t))) AS DOUBLE) / CAST(len(ltoks) AS DOUBLE) AS swr,
         CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS pr
  FROM b
)
SELECT doc_id, n_tokens,
       ROUND(awl, 6) AS avg_word_len,
       ROUND(swr, 6) AS stopword_ratio,
       ROUND(pr, 6) AS punct_ratio,
       ROUND((least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
              + (CASE WHEN awl >= 2.0 AND awl <= 10.0 THEN 1.0 ELSE 0.5 END)
              + least(swr * 5.0, 1.0)) / 3.0
             * (1.0 - least(pr * 2.0, 1.0)), 6) AS quality
FROM m
"""


def q16_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex tokens, distinct
    tokens per document."""
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        TXT.token_count(t).cast("bigint").alias("ws_tokens"),
        TXT.regex_token_count(t).cast("bigint").alias("regex_tokens"),
        F.size(F.array_distinct(TXT.ws_tokens(t))).cast("bigint").alias("distinct_tokens"),
    )


ORACLE_Q16 = f"""
SELECT doc_id,
       CAST(len({_SQL_TOKS.format(c='text')}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS BIGINT) AS regex_tokens,
       CAST(len(list_distinct({_SQL_TOKS.format(c='text')})) AS BIGINT) AS distinct_tokens
FROM documents
"""


def q17_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax of per-language marker-word hits
    (fixed comparison order, strictly-greater wins; no hits -> 'und')."""
    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    toks = TXT.ws_tokens(F.lower(t))
    hits = {
        lang: F.size(F.filter(toks, TXT._isin(m)))
        for lang, m in TXT.LANG_MARKERS.items()
    }
    return docs.select(
        "doc_id",
        TXT.lang_id(t).alias("pred_lang"),
        *[hits[lang].cast("bigint").alias(f"hits_{lang}") for lang in ("en", "fr", "es", "de")],
    )


def _marker_sql(markers: tuple[str, ...]) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    return f"CAST(len(list_filter(ltoks, t -> list_contains({lst}, t))) AS BIGINT)"


ORACLE_Q17 = f"""
WITH b AS (
  SELECT doc_id, {_SQL_TOKS.format(c='lower(text)')} AS ltoks FROM documents
), h AS (
  SELECT doc_id,
         {_marker_sql(TXT.LANG_MARKERS['en'])} AS hits_en,
         {_marker_sql(TXT.LANG_MARKERS['fr'])} AS hits_fr,
         {_marker_sql(TXT.LANG_MARKERS['es'])} AS hits_es,
         {_marker_sql(TXT.LANG_MARKERS['de'])} AS hits_de
  FROM b
), s1 AS (
  SELECT *, CASE WHEN hits_en > 0 THEN 'en' ELSE 'und' END AS b1,
         greatest(hits_en, 0) AS m1 FROM h
), s2 AS (
  SELECT *, CASE WHEN hits_fr > m1 THEN 'fr' ELSE b1 END AS b2,
         greatest(hits_fr, m1) AS m2 FROM s1
), s3 AS (
  SELECT *, CASE WHEN hits_es > m2 THEN 'es' ELSE b2 END AS b3,
         greatest(hits_es, m2) AS m3 FROM s2
)
SELECT doc_id,
       CASE WHEN hits_de > m3 THEN 'de' ELSE b3 END AS pred_lang,
       hits_en, hits_fr, hits_es, hits_de
FROM s3
"""


def q18_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline): queries = vec_id < 10,
    k = 5. Broadcast queries x corpus scan; per-query window top-k."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "score"
    )


ORACLE_Q18 = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS score
  FROM q, c WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank FROM s
) WHERE rank <= 5
"""


def q19_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs: 16 permutations, 4 bands x 4
    rows, est_jaccard = matching-minhash fraction. Bucket-join only — never
    the O(n^2) cross join."""
    docs = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perms=16, bands=4)


def _minhash_oracle() -> str:
    shingle = (
        f"CASE WHEN len(toks) >= 3 THEN "
        f"list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) "
        f"ELSE [array_to_string(toks, ' ')] END"
    )
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"mh{b * 4 + r}" for r in range(4))
        + ") AS sig FROM sig_t"
        for b in range(4)
    )
    eqs = " + ".join(f"CAST(sa.mh{i} = sb.mh{i} AS INTEGER)" for i in range(16))
    return f"""
WITH toks_t AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({shingle})) AS shingle FROM toks_t
), hh AS (
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h FROM sh
), sig_t AS (
  SELECT doc_id,
         {mins}
  FROM hh GROUP BY doc_id
), banded AS (
{bands}
), bucket_ok AS (
  -- mirrors minhash_lsh_pairs' max_bucket_size=1000 degenerate-bucket skip
  SELECT band, sig FROM banded GROUP BY band, sig HAVING COUNT(*) BETWEEN 2 AND 1000
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  JOIN bucket_ok k ON a.band = k.band AND a.sig = k.sig
)
SELECT p.id_a, p.id_b,
       ROUND(({eqs}) / 16.0, 6) AS est_jaccard
FROM pairs p JOIN sig_t sa ON p.id_a = sa.doc_id JOIN sig_t sb ON p.id_b = sb.doc_id
"""


ORACLE_Q19 = _minhash_oracle()


def q20_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-shingle Jaccard pairs >= 0.1 via shingle inverted-index
    join (the verification stage for LSH candidates)."""
    docs = table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1)


def _jaccard_oracle() -> str:
    shingle = (
        f"CASE WHEN len(toks) >= 3 THEN "
        f"list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) "
        f"ELSE [array_to_string(toks, ' ')] END"
    )
    return f"""
WITH toks_t AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({shingle})) AS shingle FROM toks_t
), hh AS (
  -- join key = 60-bit md5 prefix, identical to shingle_hash_array_py
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM hh GROUP BY doc_id
), posting_ok AS (
  -- mirrors ngram_jaccard_pairs' max_posting_size=1000 ultra-common-shingle skip
  SELECT h FROM hh GROUP BY h HAVING COUNT(*) BETWEEN 2 AND 1000
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM hh a JOIN hh b ON a.h = b.h AND a.doc_id < b.doc_id
  JOIN posting_ok k ON a.h = k.h
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(common AS DOUBLE) / CAST(za.sz + zb.sz - common AS DOUBLE), 6) AS jaccard
FROM common JOIN sizes za ON id_a = za.doc_id JOIN sizes zb ON id_b = zb.doc_id
WHERE ROUND(CAST(common AS DOUBLE) / CAST(za.sz + zb.sz - common AS DOUBLE), 6) >= 0.1
"""


ORACLE_Q20 = _jaccard_oracle()


def q53_lsh_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed dedup pipeline under the oracle gate (VERDICT r3 #5):
    MinHash-LSH proposes candidate pairs (q19's machinery, est >= 0.3),
    ngram_jaccard_verify confirms them with EXACT shingle Jaccard
    (array_intersect over the pair's two shingle sets — no posting lists,
    no common-shingle cap) at threshold 0.5. The corpus is shingled ONCE:
    the staged 60-bit hash arrays feed both stages (the minhash domain is
    the md5 prefix — see minhash_signatures)."""
    from pincspark.operators.dedup import (
        _spread,
        ngram_jaccard_verify,
        shingle_hash_array_py,
    )

    docs = table(spark, sf_dir, "documents")
    arrs = stage(
        _spread(docs, "doc_id")
        .select("doc_id", shingle_hash_array_py("text", 3, 15).alias("__arr")),
        "q53:shingles",
        eager=False,
    )
    cands = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perms=16, bands=4, shingles=arrs
    ).filter(F.col("est_jaccard") >= 0.3)
    return ngram_jaccard_verify(
        docs, cands, "doc_id", "text", n=3, threshold=0.5, shingles=arrs
    )


def _lsh_verify_oracle() -> str:
    shingle = (
        f"CASE WHEN len(toks) >= 3 THEN "
        f"list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) "
        f"ELSE [array_to_string(toks, ' ')] END"
    )
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"mh{b * 4 + r}" for r in range(4))
        + ") AS sig FROM sig_t"
        for b in range(4)
    )
    eqs = " + ".join(f"CAST(sa.mh{i} = sb.mh{i} AS INTEGER)" for i in range(16))
    return f"""
WITH toks_t AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({shingle})) AS shingle FROM toks_t
), hh32 AS (  -- 32-bit keys: the minhash permutation domain (q19)
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h FROM sh
), sig_t AS (
  SELECT doc_id,
         {mins}
  FROM hh32 GROUP BY doc_id
), banded AS (
{bands}
), bucket_ok AS (
  SELECT band, sig FROM banded GROUP BY band, sig HAVING COUNT(*) BETWEEN 2 AND 1000
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  JOIN bucket_ok k ON a.band = k.band AND a.sig = k.sig
), cand AS (
  SELECT p.id_a, p.id_b
  FROM pairs p JOIN sig_t sa ON p.id_a = sa.doc_id JOIN sig_t sb ON p.id_b = sb.doc_id
  WHERE ROUND(({eqs}) / 16.0, 6) >= 0.3
), hh60 AS (  -- 60-bit keys: the exact-verify domain (shingle_hash_array_py)
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM hh60 GROUP BY doc_id
), common AS (  -- exact |A∩B| per CANDIDATE pair: no posting cap anywhere
  SELECT c.id_a, c.id_b, COUNT(*) AS common
  FROM cand c
  JOIN hh60 a ON a.doc_id = c.id_a
  JOIN hh60 b ON b.doc_id = c.id_b AND a.h = b.h
  GROUP BY c.id_a, c.id_b
)
SELECT m.id_a, m.id_b,
       ROUND(CAST(common AS DOUBLE) / CAST(za.sz + zb.sz - common AS DOUBLE), 6) AS jaccard
FROM common m JOIN sizes za ON m.id_a = za.doc_id JOIN sizes zb ON m.id_b = zb.doc_id
WHERE ROUND(CAST(common AS DOUBLE) / CAST(za.sz + zb.sz - common AS DOUBLE), 6) >= 0.5
"""


ORACLE_Q53 = _lsh_verify_oracle()


def q54_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data FLAGSHIP: the full corpus-curation pipeline a
    pre-training run executes, composed end-to-end from the engine's
    operators and oracle-checked as ONE query —

        quality filter (>= 0.6) -> exact dedup (normalized-md5 reps)
        -> MinHash-LSH candidates (est >= 0.3) -> exact Jaccard verify
        (>= 0.5) -> connected-component keep-list -> deterministic
        shard/pos assignment (8 shards)

    Every stage is the already-oracled operator (q15/q14/q19/q53/q42/q44)
    applied to the previous stage's survivors; the composition checks the
    subsetting seams between them. Scale shape is the sum of its parts:
    narrow quality scan, one fingerprint shuffle, banded LSH postings,
    candidate-only verify joins, labels-only propagation, one shard
    shuffle — the corpus text itself never fans out.

    The survivors are shingled ONCE: the 60-bit hash arrays staged here
    feed the LSH propose stage (whose 32-bit minhash domain is the md5
    prefix, recovered by shiftright — bit-identical values, oracle
    unchanged), the exact-Jaccard verify joins, AND the keep-list id
    join, so neither the corpus text nor the quality scan is revisited
    after this point (VERDICT r4 #5)."""
    from pincspark.operators.dedup import (
        _spread,
        dedup_clusters,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_verify,
        shingle_hash_array_py,
    )
    from pincspark.operators.sampling import deterministic_shards

    # VERDICT r13 #3 asked for a q54 fusion audit: MEASURED r14 —
    # the pipeline has only TWO stage barriers left ('q54:shingles',
    # 3 consumers; 'cc:edges', the iterative clusters input), both
    # multi-consumer, so there is no single-consumer checkpoint to
    # collapse. The one remaining lever (spreading the scan before the
    # quality front, the q91 fix) was A/B-measured at sf0.1 and is
    # NEGATIVE here: median 4.97 s with vs 3.80 s without — the corpus
    # is 5k docs, the HOF front is cheap, and the extra exchange wave
    # costs more than the single-task compute it parallelizes. q54's
    # cost at this sf is DAG-depth orchestration floor, not compute.
    docs = table(spark, sf_dir, "documents")
    qdocs = docs.filter(TXT.quality_score(F.col("text")) >= 0.6).select(
        "doc_id", "text"
    )
    # The text rides through the fingerprint window (keep_cols) so the
    # survivors come out of ONE quality-scan + one wide pass — flagging
    # ids and joining back would shuffle the text for the join anyway,
    # plus two id shuffles and a second quality scan.
    edocs = (
        exact_dedup(qdocs, "doc_id", "text", keep_cols=("text",))
        .filter("keep")
        .select("doc_id", "text")
    )
    # Stage the survivors' shingle-hash arrays once: three consumers (LSH
    # signatures, verify arrays, keep-list join) would otherwise re-run
    # the quality scan + fingerprint window + Arrow shingle kernel each —
    # same single-scan policy as the AIS flagship. At cluster scale swap
    # localCheckpoint for checkpoint() (reliable storage).
    arrs = stage(
        _spread(edocs, "doc_id")
        .select("doc_id", shingle_hash_array_py("text", 3, 15).alias("__arr")),
        "q54:shingles",
        eager=False,
    )
    cands = minhash_lsh_pairs(
        edocs, "doc_id", "text", n=3, num_perms=16, bands=4, shingles=arrs
    ).filter(F.col("est_jaccard") >= 0.3)
    pairs = ngram_jaccard_verify(
        edocs, cands, "doc_id", "text", n=3, threshold=0.5, shingles=arrs
    )
    clusters = dedup_clusters(pairs)
    kept = (
        arrs.select("doc_id")
        .join(clusters, F.col("doc_id") == F.col("node"), "left")
        .filter(F.coalesce(F.col("cluster_id"), F.col("doc_id")) == F.col("doc_id"))
        .select("doc_id")
    )
    out = deterministic_shards(kept, "doc_id", num_shards=8, salt="cur")
    return out.select("doc_id", "shard", F.col("pos").cast("int").alias("pos"))


def _curation_oracle() -> str:
    from pincspark.operators.sampling import sample_hash_sql

    shingle = (
        f"CASE WHEN len(toks) >= 3 THEN "
        f"list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) "
        f"ELSE [array_to_string(toks, ' ')] END"
    )
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"mh{b * 4 + r}" for r in range(4))
        + ") AS sig FROM sig_t"
        for b in range(4)
    )
    eqs = " + ".join(f"CAST(sa.mh{i} = sb.mh{i} AS INTEGER)" for i in range(16))
    h = sample_hash_sql("doc_id", "cur")
    return f"""
WITH RECURSIVE qm AS (
  SELECT doc_id, text,
         {_SQL_TOKS.format(c='text')} AS toks,
         {_SQL_TOKS.format(c='lower(text)')} AS ltoks,
         CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS pr
  FROM documents
), q AS (
  SELECT doc_id, text,
         ROUND((least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
                + (CASE WHEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 2.0
                        AND CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) <= 10.0
                   THEN 1.0 ELSE 0.5 END)
                + least(CAST(len(list_filter(ltoks, t -> list_contains({_SQL_STOPS}, t))) AS DOUBLE) / CAST(len(ltoks) AS DOUBLE) * 5.0, 1.0)) / 3.0
               * (1.0 - least(pr * 2.0, 1.0)), 6) AS quality
  FROM qm
), qdocs AS (
  SELECT doc_id, text FROM q WHERE quality >= 0.6
), fp AS (
  SELECT doc_id, text, md5({_SQL_NORM.format(c='text')}) AS fingerprint FROM qdocs
), edocs AS (  -- exact-dedup representatives (smallest id per fingerprint)
  SELECT doc_id, text FROM (
    SELECT doc_id, text, doc_id = MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep FROM fp
  ) WHERE keep
), toks_t AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM edocs
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({shingle})) AS shingle FROM toks_t
), hh32 AS (
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h FROM sh
), sig_t AS (
  SELECT doc_id,
         {mins}
  FROM hh32 GROUP BY doc_id
), banded AS (
{bands}
), bucket_ok AS (
  SELECT band, sig FROM banded GROUP BY band, sig HAVING COUNT(*) BETWEEN 2 AND 1000
), lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  JOIN bucket_ok k ON a.band = k.band AND a.sig = k.sig
), cand AS (
  SELECT p.id_a, p.id_b
  FROM lsh_pairs p JOIN sig_t sa ON p.id_a = sa.doc_id JOIN sig_t sb ON p.id_b = sb.doc_id
  WHERE ROUND(({eqs}) / 16.0, 6) >= 0.3
), hh60 AS (
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM hh60 GROUP BY doc_id
), common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS common
  FROM cand c
  JOIN hh60 a ON a.doc_id = c.id_a
  JOIN hh60 b ON b.doc_id = c.id_b AND a.h = b.h
  GROUP BY c.id_a, c.id_b
), verified AS (
  SELECT m.id_a, m.id_b
  FROM common m JOIN sizes za ON m.id_a = za.doc_id JOIN sizes zb ON m.id_b = zb.doc_id
  WHERE ROUND(CAST(common AS DOUBLE) / CAST(za.sz + zb.sz - common AS DOUBLE), 6) >= 0.5
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION
  SELECT id_b AS src, id_a AS dst FROM verified
), walk(src, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.src
), comp AS (
  SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY src
), kept AS (
  SELECT e.doc_id FROM edocs e LEFT JOIN comp c ON e.doc_id = c.doc_id
  WHERE COALESCE(c.cluster_id, e.doc_id) = e.doc_id
), hashed AS (
  SELECT doc_id, {h} AS h, CAST({h} % 8 AS INTEGER) AS shard FROM kept
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS INTEGER) AS pos
FROM hashed
"""


ORACLE_Q54 = _curation_oracle()


def q21_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints (32-bit): per-bit +1/-1 token-hash
    voting, one explode + one groupBy."""
    docs = table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", bits=32)


def _simhash_oracle() -> str:
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(32)
    )
    recon = " + ".join(f"(CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)" for i in range(32))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))}) AS t FROM documents
), hh AS (
  SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) AS h FROM tok
), agg AS (
  SELECT doc_id,
         {bit_sums}
  FROM hh GROUP BY doc_id
)
SELECT doc_id, {recon} AS simhash FROM agg
"""


ORACLE_Q21 = _simhash_oracle()


def q22_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via IVF cells (the 100-TB scale path for q18):
    deterministic centroids (16 smallest ids), nprobe=4, cell scores
    rounded to 9 dp so the oracle replicates the index build exactly."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(emb, queries, k=5, num_cells=16, nprobe=4).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "score"
    )


_SQL_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

ORACLE_Q22 = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT 16
), assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, cent.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND({_SQL_COS.format(a='e.v', b='cent.cv')}, 9) DESC, cent.cell ASC
           ) AS rn
    FROM e, cent
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cent.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND({_SQL_COS.format(a='q.qv', b='cent.cv')}, 9) DESC, cent.cell ASC
           ) AS rn
    FROM q, cent
  ) WHERE rn <= 4
), s AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND({_SQL_COS.format(a='p.qv', b='a.v')}, 6) AS score
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""


_IVF_INDEX_CACHE: dict[str, str] = {}


def q62_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent IVF index SERVING path (the 100-TB build-once/serve-many
    ANN shape, `pincspark/operators/ann_index.py`): the index is built ONCE
    per session per sf_dir — centroids + postings parquet PARTITIONED BY
    cell — then the query probes nprobe=4 of 16 cells, the probed cell set
    pushed into the postings scan as a partition filter (pruning
    plan-asserted in tests/test_ann_index.py). Same workload, parameters
    and oracle as the transient q22 (which rebuilds the index inside the
    query); served==transient row identity is pinned in test_ann_index.py,
    which is why q22 is subsumed out of the harness window by this query."""
    import tempfile

    from pincspark.operators.ann_index import build_ivf_index, ivf_index_topk

    emb = table(spark, sf_dir, "embeddings")
    path = _IVF_INDEX_CACHE.get(sf_dir)
    if path is None:
        # Fresh tempdir per process (no cross-run staleness), removed at
        # interpreter exit: every bench/pytest/probe process otherwise
        # left a full partitioned copy of the embeddings table in /tmp
        # (review finding r7). A production deployment would point this
        # at durable storage and NOT clean it up — the whole point of
        # the persistent index — but a benchmark process must not leak.
        import atexit
        import shutil

        path = tempfile.mkdtemp(prefix="pincspark_ivf_idx_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_ivf_index(emb, path, num_cells=16)
        _IVF_INDEX_CACHE[sf_dir] = path
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_index_topk(spark, path, queries_df, k=5, nprobe=4).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "score"
    )


def q51_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (IVF-PQ's compression layer): corpus encoded
    as 8 sub-codes from deterministic codebooks (16 smallest-id vectors'
    subvectors, iters=0 so the oracle replicates the index build exactly
    — same policy as q22), queries scored via the ADC lookup table. The
    trained (Lloyd-refined) variant's recall is pinned in
    tests/test_scale.py."""
    from pincspark.operators.similarity import pq_codebooks, pq_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cb = pq_codebooks(emb, m=8, num_codes=16, iters=0)
    return pq_topk(emb, queries, k=5, codebooks=cb).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "score"
    )


ORACLE_Q51 = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), init AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS code, v
  FROM e ORDER BY vec_id ASC LIMIT 16
), cb AS (  -- (sub, code, centroid): subvector s of init vector c
  SELECT s.sub, init.code, init.v[s.sub * 8 + 1 : s.sub * 8 + 8] AS cv
  FROM (SELECT unnest(generate_series(0, 7)) AS sub) s, init
), dist AS (  -- L2^2 per (vector, sub, code), 9 dp like the Spark encode
  SELECT e.vec_id, cb.sub, cb.code,
         ROUND(list_sum(list_transform(generate_series(1, 8),
               i -> (e.v[cb.sub * 8 + i] - cb.cv[i]) ^ 2)), 9) AS d2
  FROM e, cb
), enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, code ASC) AS rn
    FROM dist
  ) WHERE rn = 1
), codes AS (
  SELECT vec_id, list(code ORDER BY sub ASC) AS codes FROM enc GROUP BY vec_id
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
), lutrows AS (  -- ADC lookup table: <query subvector, centroid>, 9 dp
  SELECT q.query_id, cb.sub, cb.code,
         ROUND(list_dot_product(q.qv[cb.sub * 8 + 1 : cb.sub * 8 + 8], cb.cv), 9) AS ip
  FROM q, cb
), lut AS (
  SELECT query_id, list(ip ORDER BY sub ASC, code ASC) AS lut
  FROM lutrows GROUP BY query_id
), s AS (  -- sum the m looked-up inner products in sub order (portable FP)
  SELECT l.query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(generate_series(1, 8),
               s -> l.lut[(s - 1) * 16 + c.codes[s] + 1])), 6) AS score
  FROM codes c, lut l
  WHERE c.vec_id <> l.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""


def q52_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — the full 100-TB ANN recipe under the oracle
    gate: IVF prunes WHICH vectors each query scores (q22's deterministic
    smallest-id centroids, nprobe=4), PQ compresses WHAT is scored (q51's
    deterministic iters=0 codebooks, ADC lookup table). The trained
    (Lloyd-refined) composition's recall is pinned in tests/test_scale.py;
    this query pins the exact arithmetic against DuckDB."""
    from pincspark.operators.similarity import ivfpq_topk, pq_codebooks

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = (
        emb.orderBy(F.col("vec_id").asc())
        .limit(16)
        .select(F.col("vec_id").alias("cell"), F.col("embedding").alias("centroid"))
    )
    cb = pq_codebooks(emb, m=8, num_codes=16, iters=0)
    return ivfpq_topk(
        emb, queries, k=5, num_cells=16, nprobe=4, centroids=cents, codebooks=cb
    ).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "score"
    )


ORACLE_Q52 = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT vec_id AS cell, v AS cv FROM e ORDER BY vec_id LIMIT 16
), assign AS (  -- IVF: every corpus vector joins its nearest cell (q22)
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, cent.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND({_SQL_COS.format(a='e.v', b='cent.cv')}, 9) DESC, cent.cell ASC
           ) AS rn
    FROM e, cent
  ) WHERE rn = 1
), init AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS code, v
  FROM e ORDER BY vec_id ASC LIMIT 16
), cb AS (  -- PQ codebooks: subvector s of init vector c (q51)
  SELECT s.sub, init.code, init.v[s.sub * 8 + 1 : s.sub * 8 + 8] AS cv
  FROM (SELECT unnest(generate_series(0, 7)) AS sub) s, init
), dist AS (
  SELECT e.vec_id, cb.sub, cb.code,
         ROUND(list_sum(list_transform(generate_series(1, 8),
               i -> (e.v[cb.sub * 8 + i] - cb.cv[i]) ^ 2)), 9) AS d2
  FROM e, cb
), enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2 ASC, code ASC) AS rn
    FROM dist
  ) WHERE rn = 1
), codes AS (
  SELECT vec_id, list(code ORDER BY sub ASC) AS codes FROM enc GROUP BY vec_id
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
), probes AS (  -- each query probes its nprobe=4 nearest cells (q22)
  SELECT query_id, cell FROM (
    SELECT q.query_id, cent.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND({_SQL_COS.format(a='q.qv', b='cent.cv')}, 9) DESC, cent.cell ASC
           ) AS rn
    FROM q, cent
  ) WHERE rn <= 4
), lutrows AS (
  SELECT q.query_id, cb.sub, cb.code,
         ROUND(list_dot_product(q.qv[cb.sub * 8 + 1 : cb.sub * 8 + 8], cb.cv), 9) AS ip
  FROM q, cb
), lut AS (
  SELECT query_id, list(ip ORDER BY sub ASC, code ASC) AS lut
  FROM lutrows GROUP BY query_id
), s AS (  -- score ONLY corpus vectors inside a probed cell
  SELECT l.query_id, c.vec_id AS neighbor_id,
         ROUND(list_sum(list_transform(generate_series(1, 8),
               s -> l.lut[(s - 1) * 16 + c.codes[s] + 1])), 6) AS score
  FROM codes c
  JOIN assign a ON a.vec_id = c.vec_id
  JOIN probes p ON p.cell = a.cell
  JOIN lut l ON l.query_id = p.query_id
  WHERE c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# AIS-domain operators under the oracle gate
# --------------------------------------------------------------------------


def q23_zone_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 point-in-polygon spatial join + A1 distinct-vessel agg (the
    reference's flagship analysis, ais_analysis.py:482-492) on synthetic
    positions derived deterministically from events: lon/lat spread over the
    TSS zone bounding box, zones broadcast, containment via the pure-SQL
    ray-casting predicate."""
    from pincspark.operators.geo import zone_occupancy

    from pincspark.operators.dedup import _spread

    ev = table(spark, sf_dir, "events")
    points = _spread(  # split the single-file scan (no-op on a split table)
        ev.select(
            F.col("user_id"),
            (F.lit(100.5) + F.col("value") % F.lit(2.5)).alias("longitude"),
            (F.lit(1.0) + (F.col("user_id") % F.lit(21)).cast("double") / F.lit(10.0)).alias("latitude"),
        ),
        "user_id",
    )
    occ = zone_occupancy(points, zones=None, key="user_id")  # static codegen PIP
    return occ.select(
        "zone_id", "zone_name",
        F.col("n_vessels").alias("n_vessels"),
        "n_points",
    )


def _pip_crossings_sql(verts) -> str:
    """DuckDB ray-casting crossing count over columns ``lon``/``lat``,
    with slopes precomputed in Python — the SAME double literals the
    Spark predicate plants (geo.point_in_polygon_static), so boundary
    decisions are bit-identical across engines."""
    terms = []
    for (px, py), (qx, qy) in zip(verts[:-1], verts[1:]):
        slope = (qx - px) / (qy - py)
        terms.append(
            f"(CASE WHEN (({py!r} > lat) <> ({qy!r} > lat)) AND "
            f"(lon < {slope!r} * (lat - {py!r}) + {px!r}) "
            f"THEN 1 ELSE 0 END)"
        )
    return " + ".join(terms)


def _zone_oracle() -> str:
    from pincspark.operators.geo import load_zone_data

    zone_sqls = []
    for z in load_zone_data():
        crossings = _pip_crossings_sql(z["coordinates"])
        zone_sqls.append(
            f"SELECT {z['zone_id']} AS zone_id, '{z['zone_name']}' AS zone_name, "
            f"user_id FROM pts WHERE ({crossings}) % 2 = 1"
        )
    matches = "\n  UNION ALL\n  ".join(zone_sqls)
    return f"""
WITH pts AS (
  SELECT user_id,
         100.5 + (value % 2.5) AS lon,
         1.0 + CAST(user_id % 21 AS DOUBLE) / 10.0 AS lat
  FROM events
), m AS (
  {matches}
)
SELECT zone_id, zone_name,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_vessels,
       COUNT(*) AS n_points
FROM m GROUP BY zone_id, zone_name
"""


ORACLE_Q23 = _zone_oracle()


def q91_zone_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2-batch zone ENTRY/EXIT transitions, oracle-gated (the zone
    state machine previously carried only local stream==batch parity):
    deterministic moving fixes minted from events (lon from value, lat
    from event_id so vessels actually cross zone boundaries, ts =
    timestamp_micros(event_id) so per-vessel ordering is strict and the
    lag() is deterministic), flagged with the codegen ray-casting PIP,
    then `pincspark.streaming.zones.track_zone_transitions_batch` — a
    transition is any report whose zone membership differs from the
    vessel's previous report, first-report-inside counts as 'enter'
    (reference counters: ais_webSocketServerDb.py:226-260). The oracle
    reimplements the PIP (shared slope literals) and the state machine
    as LAG() over (mmsi, event order) in SQL."""
    from pincspark.operators.geo import load_zone_data, point_in_polygon_static
    from pincspark.streaming.zones import track_zone_transitions_batch, zone_flag_cols

    ev = table(spark, sf_dir, "events")
    fixes = ev.select(
        F.col("user_id").alias("mmsi"),
        F.timestamp_micros(F.col("event_id")).alias("ts"),
        (F.lit(100.5) + F.col("value") % F.lit(2.5)).alias("longitude"),
        (
            F.lit(1.0)
            + (F.col("event_id") % F.lit(21)).cast("double") / F.lit(10.0)
        ).alias("latitude"),
    )
    # VERDICT r13 #2 (q91's 2.8-4.0s bench spread): the ~99-segment PIP
    # CASE per zone is the query's dominant compute and it sat ABOVE the
    # transitions exchange — a compact events.parquet arrives as ONE
    # split, so the whole ray-casting pass ran on a single task and the
    # wall clock was hostage to one thread's scheduling. Repartitioning
    # by mmsi BEFORE the flags (conditional, the _spread rationale)
    # parallelizes the PIP across the cluster, and because
    # HashPartitioning(mmsi) satisfies the window's (mmsi, zone_id)
    # clustering, the transitions window reuses it — still exactly ONE
    # exchange in the plan (asserted in tests/test_plans.py).
    from pincspark.operators.dedup import _spread

    fixes = _spread(fixes, "mmsi")
    flags = dict(zone_flag_cols())  # derived from the zone table (ADVICE r10 #5)
    for z in load_zone_data():
        fixes = fixes.withColumn(
            flags[z["zone_id"]],
            point_in_polygon_static(
                "`longitude`", "`latitude`", z["coordinates"]
            ),
        )
    out = track_zone_transitions_batch(fixes)
    return out.select(
        "mmsi",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("zone_id").cast("int").alias("zone_id"),
        "event",
    )


def _q91_oracle() -> str:
    from pincspark.operators.geo import load_zone_data

    zones = {z["zone_id"]: _pip_crossings_sql(z["coordinates"]) for z in load_zone_data()}
    return f"""
WITH pts AS (
  SELECT user_id AS mmsi, event_id,
         100.5 + (value % 2.5) AS lon,
         1.0 + CAST(event_id % 21 AS DOUBLE) / 10.0 AS lat
  FROM events
), f AS (
  SELECT mmsi, event_id,
         (({zones[1]}) % 2 = 1) AS in_north,
         (({zones[2]}) % 2 = 1) AS in_south
  FROM pts
), t AS (
  SELECT mmsi, event_id, in_north, in_south,
         COALESCE(LAG(in_north) OVER w, FALSE) AS prev_north,
         COALESCE(LAG(in_south) OVER w, FALSE) AS prev_south
  FROM f WINDOW w AS (PARTITION BY mmsi ORDER BY event_id ASC)
)
SELECT mmsi, event_id AS ts_us, CAST(1 AS INTEGER) AS zone_id,
       CASE WHEN in_north THEN 'enter' ELSE 'exit' END AS event
FROM t WHERE in_north <> prev_north
UNION ALL
SELECT mmsi, event_id AS ts_us, CAST(2 AS INTEGER) AS zone_id,
       CASE WHEN in_south THEN 'enter' ELSE 'exit' END AS event
FROM t WHERE in_south <> prev_south
"""


ORACLE_Q91 = _q91_oracle()


def q92_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6: session windows per user over the events table — the batch twin
    of the streaming session aggregation (`streaming/windows.py:
    session_counts`, the NATIVE ``session_window`` operator; streams add a
    watermark on the same code path). One row per gap-merged session:
    (user_id, session_start_us, session_end_us = last event + gap,
    n_events). Gap 8 hours against the table's ~7.3 h median inter-event
    spacing, so the corpus exercises both multi-event merging and
    singleton sessions.

    This retires the last local-only family with an SQL-expressible twin
    (VERDICT r10 #5): the oracle reimplements gap-session semantics
    independently via LAG + running session ids — including the D10
    exact-gap boundary (an event landing exactly ``gap`` after its
    predecessor STAYS in the session, hence ``> gap`` starts a new one).
    Reference intent: the commented per-mmsi ts-shift windowing in
    ais_analysis.py:445-453."""
    from pincspark.streaming.windows import session_counts

    ev = table(spark, sf_dir, "events")
    return session_counts(ev, ts_col="ts", gap="8 hours", keys=("user_id",))


ORACLE_Q92 = """
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts)
                   > 28800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), g AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS sid
  FROM s
)
SELECT user_id,
       MIN(epoch_us(ts)) AS session_start_us,
       MAX(epoch_us(ts)) + 28800000000 AS session_end_us,
       COUNT(*) AS n_events
FROM g GROUP BY user_id, sid
"""

def q93_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed fact-to-fact join, oracle-gated: orders and
    lineitem are WRITTEN bucketed on the order key (8 buckets each,
    bucket-sorted, external parquet under a pid-keyed /tmp scratch) and
    the revenue rollup joins them with ZERO join-time exchange — the
    pay-once-at-write layout tool alongside broadcast (small side) and
    shuffle (pay per query); at 100 TB a daily fact-to-fact join stops
    re-clustering the warehouse every run. The operator surface is
    `pincspark.operators.scale` (write_bucketed / bucketed_join /
    register_existing_bucketed); the exchange-free plan is pinned by
    tests/test_bucketing.py, and this gate pins the RESULTS against a
    plain DuckDB join of the same tables. Scratch hygiene mirrors q87:
    pid-keyed dir, dead-pid sweep restricted to our own naming scheme.

    Reference tie-in: the reference re-reads its gold parquet per
    analysis with no layout control (ais_analysis.py:477-486); this is
    the Spark-idiomatic layout answer alongside Z-order (q70) and
    compaction (q87)."""
    import os

    from pincspark.operators.scale import bucketed_join, write_bucketed
    from pincspark.scratch import pid_scratch

    pid = os.getpid()
    scratch = pid_scratch(
        os.path.join("/tmp", "pincspark_buckets"),
        os.path.basename(os.path.normpath(sf_dir)),
    )

    lt, rt = f"pinc_orders_bkt_{pid}", f"pinc_lineitem_bkt_{pid}"
    write_bucketed(
        table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("okey"), "o_orderstatus"
        ),
        lt, "okey", buckets=8, path=os.path.join(scratch, "orders"),
    )
    write_bucketed(
        table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
        ),
        rt, "okey", buckets=8, path=os.path.join(scratch, "lineitem"),
    )
    j = bucketed_join(spark, lt, rt, "okey")
    disc = F.expr(
        f"CAST(CAST(l_extendedprice AS {D2}) * (CAST(1 AS {D2}) - "
        f"CAST(l_discount AS {D2})) AS DECIMAL(18,4))"
    )
    return (
        j.groupBy("o_orderstatus")
        .agg(F.sum(disc).alias("_rev"), F.count(F.lit(1)).alias("n_items"))
        .select(
            "o_orderstatus",
            F.col("_rev").cast("double").alias("revenue"),
            "n_items",
        )
    )


ORACLE_Q93 = f"""
SELECT o_orderstatus,
       CAST(SUM(CAST(CAST(l_extendedprice AS {D2}) * (CAST(1 AS {D2}) -
            CAST(l_discount AS {D2})) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


# The reference's own golden sentence corpus (ais_nmea.py:114-133) plus
# negative fixtures — P1 tokenize + P2 checksum as engine-level SQL.
AIS_SENTENCES = [
    "!ABVDM,1,1,7,A,15R9eN001n7DHvT13w0TBSM>00Rm,0*54",
    "!ABVDM,1,1,2,B,37likkpOh27M3ud0Veic9as801i@,0*12",
    "!ABVDM,1,1,9,A,4055DwivO63307<PsL2H<G700D10,0*62",
    "!AIVDM,1,1,,A,805GdVh0GjuoMp2?>h0AP@=UdB06EuOwgrBGwnSwe7wvlOwwsAwwnSGmwvh0,0*67",
    "!ABVDM,1,1,7,A,90007thcP07@nkR1jMJ@0>h20@S3,0*43",
    "!ABVDM,1,1,8,A,ENm>OAt:0W5:W3h9PTVPh1:Wdh@4=lSP1<j4000003v010,4*5F",
    "!ABVDM,1,1,7,B,B8HsF90009nTJO0;Pb803wjTkP06,0*67",
    "!AIVDM,1,1,,A,H7tCijTt00`0000qP=8EPm1pA668,0*49",
    "!ABVDM,1,1,7,A,15R9eN001n7DHvT13w0TBSM>00Rm,0*55",  # bad checksum
    "!ABVDM,1,1,0,B,6>m>=9D000clQD528=00W<0,2*74",
]


def q24_nmea_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: tokenize + checksum-validate the golden NMEA corpus with pure
    SQL expressions (no Python), plus the SQL routing fast path for
    messageType/mmsi (ais_analysis.py:143-153,255-263)."""
    from pincspark.decode.kernel import (
        checksum_valid,
        routing_message_type,
        routing_mmsi,
    )

    df = spark.createDataFrame([(s,) for s in AIS_SENTENCES], "sentence STRING")
    parts = F.split(F.col("sentence"), ",")
    return df.select(
        "sentence",
        parts.getItem(0).alias("package_type"),
        F.coalesce(parts.getItem(1).try_cast("int"), F.lit(1)).alias("total"),
        parts.getItem(4).alias("channel"),
        checksum_valid(F.col("sentence")).alias("checksum_ok"),
        routing_message_type(parts.getItem(5)).alias("message_type"),
        routing_mmsi(parts.getItem(5)).alias("mmsi"),
    )


def _nmea_oracle() -> str:
    vals = ",\n  ".join(f"('{s}')" for s in AIS_SENTENCES)
    armor = (
        "CASE WHEN unicode(payload[{i}]) - 48 > 40 "
        "THEN unicode(payload[{i}]) - 56 ELSE unicode(payload[{i}]) - 48 END"
    )
    v = [armor.format(i=i) for i in range(1, 8)]
    return f"""
WITH raw(sentence) AS (VALUES
  {vals}
), t AS (
  SELECT sentence,
         string_split(sentence, ',') AS parts,
         string_split(sentence, ',')[6] AS payload
  FROM raw
), c AS (
  SELECT sentence, parts, payload,
         substring(split_part(sentence, '*', 1), 2) AS body,
         split_part(sentence, '*', 2) AS declared
  FROM t
)
SELECT sentence,
       parts[1] AS package_type,
       COALESCE(TRY_CAST(parts[2] AS INTEGER), 1) AS total,
       parts[5] AS channel,
       list_reduce(list_transform(generate_series(1, length(body)), i -> unicode(body[i])),
                   (a, b) -> xor(a, b)) = ('0x' || declared)::INTEGER AS checksum_ok,
       ({v[0]}) AS message_type,
       CAST((({v[1]}) & 15) * 67108864 + ({v[2]}) * 1048576 + ({v[3]}) * 16384
            + ({v[4]}) * 256 + ({v[5]}) * 4 + (({v[6]}) // 16) AS BIGINT) AS mmsi
FROM c
"""


ORACLE_Q24 = _nmea_oracle()


# q88 corpus: a multi-part-heavy synthetic archive exercising every clause
# of the batch reassembly contract (ST1-batch, VERDICT r9 #4). Checksums
# are real XOR checksums (the corrupt one is annotated). Expected output:
# exactly 5 reassembled messages — the singleton (seq 7), the golden
# 2-part type 5 (seq 9), the synthetic 3-part (seq 4), the adjacent H pair
# (seq 5, preceded by an orphan duplicate num=1), and the tagblock-less M
# pair (seq 0, NULL epoch). Everything else drops: bad checksum (E pair),
# incomplete (D), out-of-order adjacency (F), interleaved groups (I/J),
# and the two non-adjacent halves (K with a garbage line between, L with
# an interposed status line) that the splice guard must refuse to join —
# the reference, one unsplit stream, would drop them too
# (ais_ingressServer.py:84-106, ais_analysis.py:266-288).
REASSEMBLY_ARCHIVE = [
    r"\s:rGATE,c:1673222400*00!ABVDM,1,1,7,A,15R9eN001n7DHvT13w0TBSM>00Rm,0*54",
    r"\s:rGATE,c:1673222401*00!ABVDM,2,1,9,A,58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l,0*19",
    r"!ABVDM,2,2,9,A,PAiH8888880,2*16",
    r"\s:rGATE,c:1673222402*00!ABVDM,3,1,4,A,A111111111,0*6B",
    r"\s:rGATE,c:1673222403*00!ABVDM,3,2,4,A,B2222,0*5A",
    r"\s:rGATE,c:1673222404*00!ABVDM,3,3,4,A,C33,2*58",
    r"\s:rGATE,c:1673222410*00!ABVDM,2,1,1,B,D0000000,0*68",
    r"!ABVDM,2,1,2,A,E1111111,0*68",
    r"!ABVDM,2,2,2,A,E22,0*50",  # corrupt: true checksum is 5A
    r"!ABVDM,2,2,3,B,F22,0*5B",
    r"!ABVDM,2,1,3,B,F1111111,0*69",
    r"!ABVDM,2,1,5,A,G0000000,0*6C",
    r"\s:rGATE,c:1673222420*00!ABVDM,2,1,5,A,H1111111,0*62",
    r"!ABVDM,2,2,5,A,H22,0*50",
    r"!ABVDM,2,1,6,A,I1111111,0*60",
    r"!ABVDM,2,1,7,B,J1111111,0*61",
    r"!ABVDM,2,2,6,A,I22,0*52",
    r"!ABVDM,2,2,7,B,J22,0*53",
    r"\s:rGATE,c:1673222430*00!ABVDM,2,1,8,A,K1111111,0*6C",
    r"garbage line without bang-prefix dropped by S1",
    r"!ABVDM,2,2,8,A,K22,0*5E",
    r"!ABVDM,2,1,9,B,L1111111,0*69",
    r"STATUS heartbeat",
    r"!ABVDM,2,2,9,B,L22,0*5B",
    r"!ABVDM,2,1,0,A,M1111111,0*62",
    r"!ABVDM,2,2,0,A,M22,2*52",
    # malformed: total==1 but num==2 — falls through BOTH engine branches
    # (singles require num==1, keyed grouping requires total!=1) and the
    # oracle's nums==1..total check; pinned here so engine and oracle
    # agree on dropping it (ADVICE r10 #3)
    r"\s:rGATE,c:1673222440*00!ABVDM,1,2,0,A,N1,0*61",
]


def q88_reassembly_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1-batch reassembly contract gate: run the REAL
    :func:`pincspark.sources.nmea_source.reassemble` (adjacency grouping,
    checksum drop, exact 1..total sequence validation, splice guard) over
    the synthetic multi-part archive above and emit one row per
    reassembled message. The DuckDB oracle reimplements the documented
    contract independently (adjacency key = line_no - (num-1), checksum
    XOR, sorted fragment numbers == 1..total, num-ordered payload concat),
    so the value hash pins the SEMANTICS — a splice-guard regression that
    fabricates a message from two orphan halves, a lost fragment, or a
    mis-ordered concat all go RED. line numbers are explicit (not
    monotonically_increasing_id) so the gate is deterministic under any
    parallelism; S1's mono-id adjacency + split-boundary repair stay
    pinned by the flagship and tests/test_pipeline.py."""
    from pincspark.decode.kernel import routing_message_type
    from pincspark.sources.nmea_source import (
        reassemble,
        split_tagblock,
        tokenize_sentences,
        with_tagblock_ts,
    )

    df = spark.createDataFrame(
        list(enumerate(REASSEMBLY_ARCHIVE)), "line_idx LONG, value STRING"
    )
    df = split_tagblock(df.filter(F.col("value") != ""), "line_idx")
    out = reassemble(
        tokenize_sentences(with_tagblock_ts(df)),
        materialize=False,  # deterministic tiny input; keep the plan lazy
    )
    return out.select(
        "seq_id",
        "n_sentences",
        "payload",
        F.col("ts").cast("long").alias("epoch_s"),
        routing_message_type(F.col("payload")).alias("message_type"),
    )


def _reassembly_oracle() -> str:
    vals = ",\n  ".join(
        "({}, '{}')".format(i, l.replace("'", "''"))
        for i, l in enumerate(REASSEMBLY_ARCHIVE)
    )
    return f"""
WITH raw(line_no, line) AS (VALUES
  {vals}
), t AS (
  SELECT line_no,
         substring(line, 1, instr(line, '!') - 1) AS tagblock,
         substring(line, instr(line, '!')) AS sentence
  FROM raw WHERE instr(line, '!') > 0
), f AS (
  SELECT line_no, tagblock,
         COALESCE(TRY_CAST(string_split(sentence, ',')[2] AS INTEGER), 1) AS total,
         COALESCE(TRY_CAST(string_split(sentence, ',')[3] AS INTEGER), 1) AS num,
         COALESCE(TRY_CAST(string_split(sentence, ',')[4] AS INTEGER), 0) AS seq_id,
         string_split(sentence, ',')[6] AS payload,
         substring(split_part(sentence, '*', 1), 2) AS body,
         split_part(sentence, '*', 2) AS declared
  FROM t
), v AS (
  SELECT * FROM f
  WHERE list_reduce(list_transform(generate_series(1, length(body)), i -> unicode(body[i])),
                    (a, b) -> xor(a, b)) = ('0x' || declared)::INTEGER
), g AS (
  SELECT line_no - (num - 1) AS gkey, seq_id, total,
         COUNT(*) AS n_frags,
         list_sort(list(num)) AS nums,
         string_agg(payload, '' ORDER BY num) AS payload,
         max(CASE WHEN num = 1 THEN tagblock END) AS tb1,
         max(CASE WHEN num = 1 THEN payload END) AS p1
  FROM v GROUP BY 1, 2, 3
)
SELECT seq_id, total AS n_sentences, payload,
       TRY_CAST(regexp_extract(tb1, 'c:(\\d+)', 1) AS BIGINT) AS epoch_s,
       CASE WHEN unicode(p1[1]) - 48 > 40 THEN unicode(p1[1]) - 56
            ELSE unicode(p1[1]) - 48 END AS message_type
FROM g
WHERE n_frags = total AND nums = generate_series(1, total)
"""


ORACLE_Q88 = _reassembly_oracle()


def q25_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6/A3: tumbling event-time windows (1 hour) per event type — the
    batch twin of the streaming windowed aggregation (same code path;
    streams add a watermark)."""
    from pincspark.streaming.windows import tumbling_counts

    ev = table(spark, sf_dir, "events")
    return tumbling_counts(
        ev, ts_col="ts", window="1 hour", keys=("event_type",), value_col="value"
    )


ORACLE_Q25 = f"""
SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start_us,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS {D2})) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q27_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the dedup blocking
    pattern; swap in IVF cells for unlabeled corpora). Blocks over the
    default max_block_size=4096 are excluded (oracle mirrors the cap) —
    a degenerate block is quadratic and belongs on the IVF path; see
    embedding_dup_pairs' docstring and the round-7 scale-probe numbers."""
    from pincspark.operators.dedup import embedding_dup_pairs

    emb = table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.35, block_col="label",
        warn_excluded=False,  # catalog queries stay action-free at build
    )


ORACLE_Q27 = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), ok AS (
  -- mirrors embedding_dup_pairs' max_block_size=4096 oversized-block skip
  SELECT label FROM e GROUP BY label HAVING COUNT(*) <= 4096
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS score
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
JOIN ok ON a.label = ok.label
WHERE ROUND(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
"""


def q28_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (Rabin-Karp over token windows) document fingerprints:
    winnowing-style min hash + distinct-window count per document."""
    from pincspark.operators.dedup import rolling_fingerprints

    docs = table(spark, sf_dir, "documents")
    return rolling_fingerprints(docs, "doc_id", "text", k=4)


def _rolling_oracle() -> str:
    from pincspark.operators.dedup import ROLLING_BASE, ROLLING_MOD

    B, P = ROLLING_BASE, ROLLING_MOD
    h = f"(('0x' || substring(md5(t), 1, 8))::BIGINT % {P})"
    roll = (
        f"((((((hs[i] * {B} % {P}) + hs[i+1]) % {P}) * {B} % {P} + hs[i+2]) % {P}) * {B} % {P} + hs[i+3]) % {P}"
    )
    return f"""
WITH b AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM documents
), htab AS (
  SELECT doc_id, list_transform(toks, t -> {h}) AS hs, len(toks) AS sz FROM b
), r AS (
  SELECT doc_id,
         CASE WHEN sz >= 4 THEN
           list_transform(generate_series(1, sz - 3), i -> {roll})
         ELSE
           [list_reduce(list_prepend(CAST(0 AS BIGINT), hs), (a, x) -> (a * {B} % {P} + x) % {P})]
         END AS rollings
  FROM htab
)
SELECT doc_id, list_min(rollings) AS fp_min,
       CAST(len(list_distinct(rollings)) AS BIGINT) AS n_windows
FROM r
"""


ORACLE_Q28 = _rolling_oracle()


def q26_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 scale path: approx_count_distinct (HLL++) next to the exact count
    — the 100-TB variant of q10's exact distinct. HLL sketch values are
    engine-specific and cannot hash-match a different engine, so the
    oracle-hashable outputs are the exact count plus ``approx_within_rsd``
    = |approx - exact| <= 3*rsd*exact (a 3-sigma bound the estimator must
    satisfy); the oracle computes the exact count and literal TRUE, making
    the sketch's accuracy — the part that matters — fully oracle-gated."""
    ev = table(spark, sf_dir, "events")
    rsd = 0.05
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("_approx"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.lit(3 * rsd) * F.col("exact_users")
            ).alias("approx_within_rsd"),
        )
    )


ORACLE_Q26 = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_within_rsd
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# SQL decode twins (q31-q34, q94, q95 and q49 below): each query declares
# its payload literals and output columns ONCE, and both the Spark frame and
# the DuckDB oracle are generated from that one column list.
# --------------------------------------------------------------------------

# A decode column is (name, sql): sql(dialect, vals) is its expression over
# `payload`. Catalog fields are generated from the kernel's bit-layout table
# (`_field`); the header and the families with no vector spec (types 12, 14,
# 15, 16 and 17) keep literal spans (`_span`).
_ColSql = Callable[[str, str | None], str]
_DecodeCol = tuple[str, _ColSql]


def _field(*sources: str) -> _ColSql:
    """A catalog field: ``"family.field"`` sources of ``VEC_ENTRIES``, one
    CASE routed on messageType (``kernel.decode_sql``)."""
    pairs = [tuple(s.split(".")) for s in sources]
    return lambda dialect, vals: decode_sql(pairs, "payload", dialect, vals)


def _fields(family: str, **cols: str) -> list[_DecodeCol]:
    """``name=field`` columns of one family."""
    return [(name, _field(f"{family}.{field}")) for name, field in cols.items()]


def _span(sql_type: str, *routes) -> _ColSql:
    """A literal span: ``routes`` are ``(types, kind, start, length)``,
    routed on messageType; ``types=None`` is an unrouted header span."""

    def sql(dialect, vals):
        def val(kind, start, length):
            return layout_sql(kind, start, length, None, sql_type, "payload", dialect, vals)

        if routes[0][0] is None:
            return val(*routes[0][1:])
        branches = [(types, None, val(*layout)) for types, *layout in routes]
        return routed_sql(branches, "payload", dialect, vals)

    return sql


_HEADER: list[_DecodeCol] = [
    ("message_type", _span("int", (None, U, 0, 6))),
    ("mmsi", _span("bigint", (None, U, 8, 30))),
]


def _decode_frame(spark: SparkSession, payloads: list[str], cols: list[_DecodeCol]) -> DataFrame:
    """The Spark side of a decode column list: one armor-value array
    projection (``kernel.armor_vals_sql``), then one selectExpr."""
    df = spark.createDataFrame([(p,) for p in payloads], "payload STRING")
    return df.withColumn("__vals", F.expr(armor_vals_sql("payload"))).selectExpr(
        "payload", *(f"{sql('spark', '__vals')} AS {name}" for name, sql in cols)
    )


def _decode_oracle(payloads: list[str], cols: list[_DecodeCol]) -> str:
    """The DuckDB side of a decode column list."""
    vals = ", ".join(f"('{p}')" for p in payloads)
    sel = ",\n       ".join(f"{sql('duckdb', None)} AS {name}" for name, sql in cols)
    return f"""
SELECT payload,
       {sel}
FROM (VALUES {vals}) raw(payload)
"""


# Position-report payloads from the golden corpus (types 1/3).
POSITION_PAYLOADS = [
    "15R9eN001n7DHvT13w0TBSM>00Rm",
    "37likkpOh27M3ud0Veic9as801i@",
]

_Q31_COLS = [
    *_HEADER,
    *_fields(
        "position", nav_status="navStatus", sog="sog", longitude="longitude",
        latitude="latitude", cog="cog", heading="trueHeading",
    ),
]


def q31_position_decode_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P7 as pure SQL: decode the hot position fields (navStatus, sog,
    lon, lat, cog, heading) from armored payloads with bit-field
    expressions generated from the kernel's layout table — no Python,
    fully codegen. The Spark frame and the oracle are both generated from
    one column list (tests separately assert SQL == pandas kernel on the
    same payloads)."""
    return _decode_frame(spark, POSITION_PAYLOADS, _Q31_COLS)


ORACLE_Q31 = _decode_oracle(POSITION_PAYLOADS, _Q31_COLS)


# Payloads for the SQL decode twins of the non-position families the
# reference's analysis path consumes directly (ais_analysis_polars.py:360-429):
# type 5 / 18 / 24 from the golden corpus (reference_decoded.json), type 27
# synthesized (none in the corpus) and round-tripped against the Python
# kernel in tests/test_pipeline.py.
STATIC_VOYAGE_PAYLOAD = (  # type 5, both message parts concatenated
    "58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3lPAiH8888880"
)
CLASSB_PAYLOAD = "B8HsF90009nTJO0;Pb803wjTkP06"  # type 18
LONG_RANGE_PAYLOAD = "K3aDrf9HMh66`Li6"  # type 27 (synthesized)
STATIC_REPORT_PAYLOADS = [  # type 24 part B, part A
    "H7tCijTt00`0000qP=8EPm1pA668",
    "H8HtV6QTF0th@D0000000000000",
]

_Q32_COLS = [
    *_HEADER,
    *_fields(
        "static_voyage", ais_version="aisVersion", imo="imo",
        callsign="callsign", ship_name="shipName", ship_type="shipType",
        to_bow="to_bow", to_stern="to_stern", to_port="to_port",
        to_starboard="to_starboard", epfd="epfd", eta_month="eta_month",
        eta_day="eta_day", eta_hour="eta_hour", eta_minute="eta_minute",
        draught="draught", destination="destination", dte="dte",
    ),
]


def q32_static_voyage_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5/P9 as pure SQL: every type-5 static & voyage field — including
    the 6-bit ASCII text fields (callsign, shipName, destination) — decoded
    with generated column expressions, no Python. Field spans come from the
    kernel's layout table, tied to decode_static_voyage (families.py) ==
    ais_parser.py:113-141; the Spark frame and the oracle are both
    generated from one column list."""
    return _decode_frame(spark, [STATIC_VOYAGE_PAYLOAD], _Q32_COLS)


ORACLE_Q32 = _decode_oracle([STATIC_VOYAGE_PAYLOAD], _Q32_COLS)

_Q33_COLS = [
    *_HEADER,
    ("nav_status", _field("long_range.navStatus")),  # class B has none: NULL
    *[
        (name, _field(f"classb.{field}", f"long_range.{field}"))
        for name, field in (
            ("longitude", "longitude"), ("latitude", "latitude"), ("sog", "sog"),
            ("cog", "cog"), ("raim", "raimFlag"),
        )
    ],
]


def q33_classb_longrange_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P17/P21 as pure SQL: class-B (18) and long-range (27) position
    reports decoded in ONE scan with a messageType CASE routing to the
    family's bit spans (decode_classb / decode_long_range ==
    ais_parser.py:541-567 / 684-700). Class B has no navStatus -> NULL.
    The Spark frame and the oracle are both generated from one column
    list."""
    return _decode_frame(spark, [CLASSB_PAYLOAD, LONG_RANGE_PAYLOAD], _Q33_COLS)


ORACLE_Q33 = _decode_oracle([CLASSB_PAYLOAD, LONG_RANGE_PAYLOAD], _Q33_COLS)

_Q34_COLS = [
    *_HEADER,
    *_fields(
        "static_report", part_no="partNo", ship_name="shipName",
        ship_type="shipType", vendor="vendor", model="model", serial="serial",
        callsign="callsign", mothership_mmsi="motherShip_mmsi",
        to_bow="to_bow", to_stern="to_stern", to_port="to_port",
        to_starboard="to_starboard",
    ),
]


def q34_static_report_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P20 as pure SQL: type-24 static report with the part A/B fork on
    partNo and the mothership-vs-dimensions fork on mmsi==0
    (decode_static_report == ais_parser.py:646-680, spec fix D3), both
    routed by the layout table's own fork masks. Fields outside the taken
    fork are NULL. The Spark frame and the oracle are both generated from
    one column list."""
    return _decode_frame(spark, STATIC_REPORT_PAYLOADS, _Q34_COLS)


ORACLE_Q34 = _decode_oracle(STATIC_REPORT_PAYLOADS, _Q34_COLS)


# Payloads for the q94/q95 SQL decode twins of the LAST local-only decode
# families (VERDICT r10 coverage rows P8/P12-P16/P18/P19). Types 4/9/19/21
# come from the golden corpus (tests/golden/reference_decoded.json, the
# reference's own ais_nmea.py sentences); types 12/14/15/16/17 are
# synthesized (none exist in the corpus) with spec-packed fields and
# round-tripped against the Python kernel in tests/test_pipeline.py —
# same provenance contract as LONG_RANGE_PAYLOAD above.
BASE_STATION_PAYLOAD = "4055DwivO63307<PsL2H<G700D10"  # type 4 (golden)
SAR_AIRCRAFT_PAYLOAD = "90007thcP07@nkR1jMJ@0>h20@S3"  # type 9 (golden)
INTERROGATION_PAYLOAD = "?1mg=5AGBVL0D6DH3:3Ad<glQ;h"  # type 15 (synth)
ASSIGNMENT_PAYLOAD = "@1mg=5CcNJ;46@1EM2oP@vP7"  # type 16 (synth)
DGNSS_PAYLOAD = "A02E:p3vm01b@11l4t<P"  # type 17 (synth)
SAFETY_ADDRESSED_PAYLOAD = "<1mg=5GcNJ;485<<?"  # type 12 (synth, "HELLO")
SAFETY_BROADCAST_PAYLOAD = ">1b4N?A<59@E=@0"  # type 14 (synth, "SARTEST")
CLASSB_EXT_PAYLOAD = (  # type 19 (golden)
    "C7tc>Hh05Ao0L20LREAmCwv0P2=1aiQW0=1111111110?1D5310P"
)
ATON_PAYLOAD = "ENm>OAt:0W5:W3h9PTVPh1:Wdh@4=lSP1<j4000003v010"  # type 21 (golden)

# 6*len(payload): text spans that run to end-of-payload are per-literal
# constants.
_NB12 = 6 * len(SAFETY_ADDRESSED_PAYLOAD)
_NB14 = 6 * len(SAFETY_BROADCAST_PAYLOAD)
_NB17 = 6 * len(DGNSS_PAYLOAD)

_Q94_PAYLOADS = [
    BASE_STATION_PAYLOAD, SAR_AIRCRAFT_PAYLOAD, INTERROGATION_PAYLOAD,
    ASSIGNMENT_PAYLOAD, DGNSS_PAYLOAD,
]
_Q94_COLS = [
    *_HEADER,
    *_fields(
        "base_station", utc_year="utc_year", utc_month="utc_month",
        utc_day="utc_day", utc_hour="utc_hour", utc_minute="utc_minute",
        utc_second="utc_second", epfd="epfd",
    ),
    *_fields("sar_aircraft", altitude="altitude", sog="sog", cog="cog"),
    ("longitude", _field("base_station.longitude", "sar_aircraft.longitude")),
    ("latitude", _field("base_station.latitude", "sar_aircraft.latitude")),
    # types 15/16/17: no vector spec (interrogation mmsi1/type1_1/
    # offset1_1/mmsi2, assignment mmsi1/offset1/increment1/mmsi2, DGNSS)
    ("dest_mmsi", _span("bigint", ((15, 16), U, 40, 30))),
    ("itype1", _span("int", ((15,), U, 70, 6))),
    ("offset1", _span("int", ((15,), U, 76, 12), ((16,), U, 70, 12))),
    ("increment1", _span("int", ((16,), U, 82, 10))),
    ("mmsi2", _span("bigint", ((15,), U, 110, 30), ((16,), U, 92, 30))),
    ("dgnss_lon", _span("int", ((17,), I, 40, 18))),
    ("dgnss_lat", _span("int", ((17,), I, 58, 17))),
    ("dgnss_data", _span("string", ((17,), TEXT, 80, _NB17 - 80))),
]


def q94_aux_families_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P14/P15/P16 as pure SQL: base station (4), SAR aircraft (9),
    interrogation (15), assignment (16) and DGNSS (17) decoded in ONE scan
    with a messageType CASE routing to each family's bit spans
    (decode_base_station / decode_sar_aircraft / decode_interrogation /
    decode_assignment / decode_dgnss == ais_parser.py:76-110, 445-472,
    496-510, 524, 528-537; type 16 keeps the fields the reference decodes
    then drops — divergence D1). Fields outside the routed family are
    NULL; DGNSS lon/lat stay unscaled ints per the reference. The Spark
    frame and the oracle are both generated from one column list."""
    return _decode_frame(spark, _Q94_PAYLOADS, _Q94_COLS)


ORACLE_Q94 = _decode_oracle(_Q94_PAYLOADS, _Q94_COLS)

_Q95_PAYLOADS = [
    SAFETY_ADDRESSED_PAYLOAD, SAFETY_BROADCAST_PAYLOAD, CLASSB_EXT_PAYLOAD,
    ATON_PAYLOAD,
]
_Q95_COLS = [
    *_HEADER,
    # types 12/14: no vector spec (safety seqNo/dest_mmsi/text)
    ("seq_no", _span("int", ((12,), U, 38, 2))),
    ("dest_mmsi", _span("bigint", ((12,), U, 40, 30))),
    (
        "safety_text",
        _span("string", ((12,), TEXT, 72, _NB12 - 72), ((14,), TEXT, 40, _NB14 - 40)),
    ),
    ("name_text", _field("classb_ext.shipName", "aton.aidName")),
    ("ship_type", _field("classb_ext.shipType")),
    ("aid_type", _field("aton.aidType")),
    ("sog", _field("classb_ext.sog")),
    ("longitude", _field("classb_ext.longitude", "aton.longitude")),
    ("latitude", _field("classb_ext.latitude", "aton.latitude")),
    ("heading", _field("classb_ext.trueHeading")),
    ("to_bow", _field("classb_ext.to_bow", "aton.to_bow")),
    ("virtual_aid", _field("aton.virtualAid")),
    ("utc_second", _field("aton.utc_second")),
]


def q95_text_families_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13/P18/P19 as pure SQL: addressed/broadcast safety text (12/14),
    extended Class B (19) and aid-to-navigation (21) decoded in ONE scan —
    the variable-length safety text spans are per-literal constants, the
    fixed-width name fields ride the HOF sixbit path (decode_safety /
    decode_classb_ext / decode_aton == ais_parser.py:475-492, 571-605,
    608-642). Fields outside the routed family are NULL. The Spark frame
    and the oracle are both generated from one column list. With q94 this
    retires the last local-only decode families (VERDICT r10 rows
    P8/P12-P16/P18/P19)."""
    return _decode_frame(spark, _Q95_PAYLOADS, _Q95_COLS)


ORACLE_Q95 = _decode_oracle(_Q95_PAYLOADS, _Q95_COLS)


# The enums exercised through the broadcast-join path (J4) vs the scalar
# CASE-lookup path (P23) in q35; together they cover all 11 tables.
_ENUM_JOIN_NAMES = (
    "message_type", "nav_status", "ship_type", "epfd",
    "aid_type", "beaufort", "precipitation", "common_indicator",
)
_ENUM_LOOKUP_NAMES = ("common_indicator_yesno", "sync_state", "slot_timeout")


def q35_enum_descriptions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P22/J4/P23 oracle-gated: every code 0..127 through ALL 11 enum
    description tables with the reference's clamping semantics
    (ais_parser.py:38,98,123,202,...): 8 broadcast dimension joins plus 3
    scalar CASE lookups. The spine deliberately overshoots every table's
    range so each clamp fallback and each no-clamp NULL is exercised; the
    oracle regenerates the CASE chains from the same table dicts."""
    from pincspark.functions.enums import attach_enum, lookup

    df = spark.range(0, 128).select(F.col("id").cast("int").alias("code"))
    for name in _ENUM_JOIN_NAMES:
        df = attach_enum(df, spark, "code", name, f"{name}_desc")
    for name in _ENUM_LOOKUP_NAMES:
        df = df.withColumn(f"{name}_desc", lookup(F.col("code"), name))
    return df


def _q35_oracle() -> str:
    from pincspark.functions.enums import lookup_sql

    c = "CAST(range AS INTEGER)"
    cols = ",\n       ".join(
        f"{lookup_sql(name, c)} AS {name}_desc"
        for name in (*_ENUM_JOIN_NAMES, *_ENUM_LOOKUP_NAMES)
    )
    return f"""
SELECT {c} AS code,
       {cols}
FROM range(0, 128)
"""


ORACLE_Q35 = _q35_oracle()


def q36_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size stratified sample for training-data
    curation: the 5 smallest-hash docs per (lang, source) stratum, plus a
    10% deterministic hash-sample membership flag. Reproducible on any
    cluster size / partitioning / corpus order (md5-keyed, no RNG) — the
    distributed, reproducible analog of per-stratum reservoir sampling."""
    from pincspark.operators.sampling import (
        HASH_SPACE,
        sample_hash,
        stratified_fixed,
    )

    docs = table(spark, sf_dir, "documents")
    out = stratified_fixed(docs, "doc_id", ("lang", "source"), 5, salt="cur")
    return out.select(
        "doc_id",
        "lang",
        "source",
        F.col("sample_rank").cast("int").alias("sample_rank"),
        (sample_hash(F.col("doc_id"), "cur") < F.lit(int(0.1 * HASH_SPACE))).alias(
            "in_10pct"
        ),
    )


def _q36_oracle() -> str:
    from pincspark.operators.sampling import HASH_SPACE, sample_hash_sql

    h = sample_hash_sql("doc_id", "cur")
    return f"""
SELECT doc_id, lang, source, CAST(rn AS INTEGER) AS sample_rank,
       {h} < {int(0.1 * HASH_SPACE)} AS in_10pct
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source ORDER BY {h} ASC, doc_id ASC) AS rn
  FROM documents
)
WHERE rn <= 5
"""


ORACLE_Q36 = _q36_oracle()


def q37_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: every eval doc (doc_id % 17 == 0, a
    stand-in benchmark split) whose 3-gram shingles are >= 15% contained
    in some train doc — the benchmark-leak sweep a training pipeline runs
    before every release. Inverted-index containment, no cross product."""
    from pincspark.operators.dedup import contamination_pairs

    docs = table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    return contamination_pairs(
        train, eval_df, "doc_id", "text", n=3, threshold=0.15
    )


def _q37_oracle() -> str:
    shingle = (
        f"CASE WHEN len(toks) >= 3 THEN "
        f"list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) "
        f"ELSE [array_to_string(toks, ' ')] END"
    )
    return f"""
WITH toks_t AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest(list_distinct({shingle})) AS shingle FROM toks_t
), hh AS (
  -- join key = 60-bit md5 prefix, identical to shingle_hash_array_py
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
), e_sh AS (
  SELECT doc_id AS eval_id, h FROM hh WHERE doc_id % 17 = 0
), e_sz AS (
  SELECT eval_id, COUNT(*) AS e_sz FROM e_sh GROUP BY eval_id
), t_sh AS (
  SELECT doc_id AS train_id, h FROM hh WHERE doc_id % 17 <> 0
), posting_ok AS (
  -- mirrors contamination_pairs' max_posting_size=1000 boilerplate skip
  SELECT h FROM t_sh GROUP BY h HAVING COUNT(*) BETWEEN 1 AND 1000
), hits AS (
  SELECT e.eval_id, t.train_id, COUNT(*) AS common
  FROM e_sh e JOIN t_sh t ON e.h = t.h
  JOIN posting_ok k ON e.h = k.h
  GROUP BY e.eval_id, t.train_id
)
SELECT h.eval_id, h.train_id,
       ROUND(CAST(common AS DOUBLE) / CAST(z.e_sz AS DOUBLE), 6) AS containment
FROM hits h JOIN e_sz z ON h.eval_id = z.eval_id
WHERE ROUND(CAST(common AS DOUBLE) / CAST(z.e_sz AS DOUBLE), 6) >= 0.15
"""


ORACLE_Q37 = _q37_oracle()


def q38_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules per document: duplicate-word
    fraction, most-frequent-2-gram fraction (deterministic tie-break),
    duplicated-3-gram fraction, and the composite keep flag a pre-training
    filter would apply. ZERO shuffles: per-doc run-length encoding of the
    sorted n-gram array via one F.aggregate HOF (scan -> project plan,
    asserted in test_plans.py); the oracle computes the same stats the
    classic unnest + GROUP BY way."""
    from pincspark.operators.quality import repetition_stats

    docs = table(spark, sf_dir, "documents")
    stats = repetition_stats(docs, "doc_id", "text", top_n=2, dup_n=3)
    return stats.withColumn(
        "keep",
        (F.col("dup_word_frac") <= 0.5)
        & (F.col("top_ngram_frac") <= 0.08)
        & (F.col("dup_ngram_frac") <= 0.05),
    )


def _q38_oracle() -> str:
    toks = "list_filter(regexp_split_to_array(lower(text), ' +'), t -> t <> '')"
    g2 = (
        "CASE WHEN len(toks) >= 2 THEN "
        "list_transform(generate_series(1, len(toks) - 1), i -> array_to_string(toks[i:i+1], ' ')) "
        "ELSE [array_to_string(toks, ' ')] END"
    )
    g3 = (
        "CASE WHEN len(toks) >= 3 THEN "
        "list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) "
        "ELSE [array_to_string(toks, ' ')] END"
    )
    return f"""
WITH toks_t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), base AS (
  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
  FROM toks_t
), g2 AS (
  SELECT doc_id, unnest({g2}) AS g FROM toks_t
), c2 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g
), top2 AS (
  SELECT doc_id, g, c FROM c2
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g DESC) = 1
), tot2 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nt FROM c2 GROUP BY doc_id
), g3 AS (
  SELECT doc_id, unnest({g3}) AS g FROM toks_t
), c3 AS (
  SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g
), d3 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nd,
         CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup
  FROM c3 GROUP BY doc_id
), m AS (
  SELECT b.doc_id, b.n_tokens,
         CASE WHEN b.n_tokens > 0
              THEN ROUND(1.0 - 1.0 * b.n_distinct / b.n_tokens, 6)
              ELSE 0.0 END AS dup_word_frac,
         top2.g AS top_ngram,
         ROUND(1.0 * top2.c / tot2.nt, 6) AS top_ngram_frac,
         ROUND(1.0 * d3.dup / d3.nd, 6) AS dup_ngram_frac
  FROM base b
  JOIN top2 ON b.doc_id = top2.doc_id
  JOIN tot2 ON b.doc_id = tot2.doc_id
  JOIN d3 ON b.doc_id = d3.doc_id
)
SELECT doc_id, n_tokens, dup_word_frac, top_ngram, top_ngram_frac,
       dup_ngram_frac,
       (dup_word_frac <= 0.5 AND top_ngram_frac <= 0.08
        AND dup_ngram_frac <= 0.05) AS keep
FROM m
"""


ORACLE_Q38 = _q38_oracle()


def q39_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub sweep: detect + redact emails / IPv4s / phone numbers.

    The synthetic corpus contains no PII, so the query first plants
    deterministic doc_id-derived PII markers (3 of every 4 docs get an
    email, phone, or IP appended — the oracle builds the identical
    augmented text), then runs the real operator: per-pattern match counts
    and the chained redaction. Everything is JVM-side regex in one narrow
    map stage."""
    from pincspark.functions.pii import (
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        pii_count,
        redact_pii,
    )

    docs = table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    marker = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" contact bob"),
                sid,
                F.lit("@mail.example.com or 192.168."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".42 ok"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit(".3.7 and admin"),
                sid,
                F.lit("@ex.org"),
            ),
        )
        .otherwise(F.lit(""))
    )
    aug = docs.select("doc_id", F.concat(F.col("text"), marker).alias("text"))
    t = F.col("text")
    out = aug.select(
        "doc_id",
        pii_count(t, EMAIL_RE).cast("bigint").alias("n_email"),
        pii_count(t, IPV4_RE).cast("bigint").alias("n_ip"),
        pii_count(t, PHONE_RE).cast("bigint").alias("n_phone"),
        redact_pii(t).alias("redacted"),
    )
    return out.withColumn(
        "has_pii", (F.col("n_email") + F.col("n_ip") + F.col("n_phone")) > 0
    )


def _q39_oracle() -> str:
    from pincspark.functions.pii import pii_counts_sql, redact_pii_sql

    counts = pii_counts_sql("text")
    return f"""
WITH aug AS (
  SELECT doc_id, text ||
    CASE doc_id % 4
      WHEN 0 THEN ' contact bob' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or 192.168.'
                  || CAST(doc_id % 200 AS VARCHAR) || '.42 ok'
      WHEN 1 THEN ' call 415-555-'
                  || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
      WHEN 2 THEN ' host 10.' || CAST(doc_id % 250 AS VARCHAR)
                  || '.3.7 and admin' || CAST(doc_id AS VARCHAR) || '@ex.org'
      ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       CAST({counts['email']} AS BIGINT) AS n_email,
       CAST({counts['ip']} AS BIGINT) AS n_ip,
       CAST({counts['phone']} AS BIGINT) AS n_phone,
       {redact_pii_sql('text')} AS redacted,
       ({counts['email']} + {counts['ip']} + {counts['phone']}) > 0 AS has_pii
FROM aug
"""


ORACLE_Q39 = _q39_oracle()


def q40_vocab_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training support: the corpus-wide pair-count sweep of one
    BPE merge iteration — top-100 word bigrams by total count with exact
    document frequencies and deterministic rank ids. Two keyed
    aggregations + TakeOrderedAndProject; never a count-distinct expand,
    never a full vocabulary sort."""
    from pincspark.operators.vocab import vocab_topk

    docs = table(spark, sf_dir, "documents")
    return vocab_topk(docs, "doc_id", "text", n=2, k=100)


def _q40_oracle() -> str:
    toks = "list_filter(regexp_split_to_array(lower(text), ' +'), t -> t <> '')"
    g2 = (
        "CASE WHEN len(toks) >= 2 THEN "
        "list_transform(generate_series(1, len(toks) - 1), i -> array_to_string(toks[i:i+1], ' ')) "
        "ELSE [array_to_string(toks, ' ')] END"
    )
    return f"""
WITH toks_t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), grams AS (
  SELECT doc_id, unnest({g2}) AS token FROM toks_t
), per_doc AS (
  SELECT doc_id, token, COUNT(*) AS c FROM grams GROUP BY doc_id, token
), vocab AS (
  SELECT token, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df
  FROM per_doc GROUP BY token
)
SELECT token, tf, df,
       CAST(row_number() OVER (ORDER BY tf DESC, df DESC, token ASC) AS INTEGER)
         AS token_id
FROM vocab
ORDER BY token_id
LIMIT 100
"""


ORACLE_Q40 = _q40_oracle()


def q41_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding int8 quantization + top-k by quantized cosine: the
    memory-bound ANN configuration (4x fewer vector bytes). Integer dot
    products keep every intermediate exactly representable, so the DuckDB
    oracle replicates the whole quantize->score->rank pipeline
    bit-for-bit. Queries = vec_id < 10, k = 5, mirroring q18 — comparing
    the two result sets shows the quantization-induced rank churn."""
    from pincspark.operators.similarity import quantized_topk

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return quantized_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "score"
    )


ORACLE_Q41 = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
  FROM embeddings
), qz AS (
  SELECT vec_id,
         list_transform(
           v, x -> CAST(round(x * (CASE WHEN s > 0 THEN 127.0 / s ELSE 0.0 END))
                        AS BIGINT)) AS q
  FROM base
), n AS (
  SELECT vec_id, q, sqrt(CAST(list_dot_product(q, q) AS DOUBLE)) AS qn FROM qz
  WHERE sqrt(CAST(list_dot_product(q, q) AS DOUBLE)) > 0
), pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND(CAST(list_dot_product(a.q, b.q) AS DOUBLE) / (a.qn * b.qn), 6)
           AS score
  FROM n a, n b
  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= 5
"""


def q42_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIRS -> CLUSTERS -> keep-list: the step a dedup pipeline actually
    applies. MinHash-LSH candidate pairs (q19 parameters) are clustered
    into connected components by iterative min-label propagation (only
    the label table shuffles — never the corpus), then every document
    gets (cluster_id, keep): keep = it is its component's smallest id.
    The oracle recomputes the pairs and resolves components with a
    recursive transitive-closure CTE."""
    from pincspark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perms=16, bands=4)
    clusters = dedup_clusters(pairs)
    out = docs.select("doc_id").join(
        clusters, docs["doc_id"] == clusters["node"], "left"
    )
    return out.select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        (F.coalesce(F.col("cluster_id"), F.col("doc_id")) == F.col("doc_id")).alias(
            "keep"
        ),
    )


def _q42_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
{_minhash_oracle()}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk(src, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.src
), comp AS (
  SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY src
)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS keep
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


ORACLE_Q42 = _q42_oracle()


def q43_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via Hamming-ball LSH banding: 32-bit simhash
    split into 4 slices, docs compared only within identical (band, slice)
    buckets — exact for hamming <= 3 by pigeonhole. One posting-list
    shuffle, simhashes carried as member payloads, hamming =
    bit_count(xor) in codegen."""
    from pincspark.operators.dedup import simhash_hamming_pairs

    docs = table(spark, sf_dir, "documents")
    return simhash_hamming_pairs(
        docs, "doc_id", "text", bits=32, bands=4, max_hamming=3
    )


def _q43_oracle() -> str:
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(32)
    )
    recon = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {b} AS band, (simhash >> {b * 8}) & 255 AS slice FROM sim"
        for b in range(4)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))}) AS t FROM documents
), hh AS (
  SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 8)) AS BIGINT) AS h FROM tok
), agg AS (
  SELECT doc_id,
         {bit_sums}
  FROM hh GROUP BY doc_id
), sim AS (
  SELECT doc_id, {recon} AS simhash FROM agg
), banded AS (
{bands}
), bucket_ok AS (
  -- mirrors simhash_hamming_pairs' max_bucket_size=1000 degenerate-bucket skip
  SELECT band, slice FROM banded GROUP BY band, slice HAVING COUNT(*) BETWEEN 2 AND 1000
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.slice = b.slice AND a.doc_id < b.doc_id
  JOIN bucket_ok k ON a.band = k.band AND a.slice = k.slice
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""


ORACLE_Q43 = _q43_oracle()


def q44_deterministic_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus shuffle into training shards: every document
    gets (shard, pos) from md5 hashing — identical on any cluster size /
    partitioning; one shuffle + per-shard sort, never a global order."""
    from pincspark.operators.sampling import deterministic_shards

    docs = table(spark, sf_dir, "documents")
    out = deterministic_shards(docs, "doc_id", num_shards=8, salt="r2")
    return out.select("doc_id", "shard", F.col("pos").cast("int").alias("pos"))


def _q44_oracle() -> str:
    from pincspark.operators.sampling import sample_hash_sql

    h = sample_hash_sql("doc_id", "r2")
    return f"""
WITH hashed AS (
  SELECT doc_id, {h} AS h, CAST({h} % 8 AS INTEGER) AS shard FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS INTEGER) AS pos
FROM hashed
"""


ORACLE_Q44 = _q44_oracle()


def q45_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: documents laid end-to-end into
    128-token training sequences across 8 deterministic shard streams —
    each doc's (shard, pos, seq_id, offset). One exchange + per-shard
    running-sum window."""
    from pincspark.operators.packing import pack_sequences

    docs = table(spark, sf_dir, "documents")
    out = pack_sequences(docs, "doc_id", "text", budget=128, num_shards=8, salt="r2")
    return out.select(
        "doc_id",
        "shard",
        F.col("pos").cast("int").alias("pos"),
        "n_tokens",
        "seq_id",
        "offset",
    )


def _q45_oracle() -> str:
    from pincspark.operators.sampling import sample_hash_sql

    h = sample_hash_sql("doc_id", "r2")
    toks = _SQL_TOKS.format(c="text")
    return f"""
WITH hashed AS (
  SELECT doc_id, {h} AS h, CAST({h} % 8 AS INTEGER) AS shard,
         CAST(len({toks}) AS BIGINT) AS n_tokens
  FROM documents
), positioned AS (
  SELECT doc_id, shard, n_tokens, h,
         CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS INTEGER) AS pos,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before_toks
  FROM hashed
)
SELECT doc_id, shard, pos, n_tokens,
       CAST(before_toks // 128 AS BIGINT) AS seq_id,
       CAST(before_toks % 128 AS BIGINT) AS offset
FROM positioned
"""


ORACLE_Q45 = _q45_oracle()


def q46_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed interval (range) join via bucketization: every purchase event
    matched into the signup validity interval [valid_from, valid_to) it
    falls in, per user. A naive BETWEEN join plans as a nested loop; the
    bucketized form is two exchanges + a hash join + a codegen refine
    filter (operators/ranges.py)."""
    from pincspark.operators.keyed import validity_intervals
    from pincspark.operators.ranges import interval_join

    ev = table(spark, sf_dir, "events")
    sig = (
        validity_intervals(
            ev.filter(F.col("event_type") == "signup").select(
                "event_id", "user_id", "ts"
            ),
            key="user_id",
            ts="ts",
        )
        .select(
            F.col("event_id").alias("interval_event_id"),
            "user_id",
            F.unix_micros(F.col("valid_from")).alias("lo"),
            F.unix_micros(F.col("valid_to")).alias("hi"),
        )
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("point_event_id"),
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    out = interval_join(
        pur, sig, "ts_us", "lo", "hi", bucket_width=3_600_000_000, keys=["user_id"]
    )
    return out.select(
        "point_event_id",
        "user_id",
        "interval_event_id",
        F.col("lo").alias("valid_from_us"),
        "ts_us",
    )


ORACLE_Q46 = """
WITH sig AS (
  SELECT event_id AS interval_event_id, user_id, epoch_us(ts) AS lo,
         epoch_us(COALESCE(lead(ts) OVER (PARTITION BY user_id ORDER BY ts), ts)) AS hi
  FROM events WHERE event_type = 'signup'
), pur AS (
  SELECT event_id AS point_event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT p.point_event_id, p.user_id, s.interval_event_id,
       s.lo AS valid_from_us, p.ts_us
FROM pur p
JOIN sig s ON p.user_id = s.user_id AND p.ts_us >= s.lo AND p.ts_us < s.hi
"""


def q47_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (p50/p95/p99 of event value per event
    type) with linear interpolation — Spark `percentile` == DuckDB
    `quantile_cont` bit-for-bit on the same doubles. The 100-TB twin is
    `approx_percentile` (KLL-style sketch, mergeable map-side) — same
    plan shape, bounded memory; the exact form is the oracle-able
    correctness anchor (cf. q26's HLL/exact pairing)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
    )


ORACLE_Q47 = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.95), 6) AS p95,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events
GROUP BY event_type
"""

_BM25_TERMS = ("spark", "window", "merge", "vector")


def q48_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval scores for a 4-term query over the corpus:
    tokens filtered to query terms inside the tokenize codegen stage (the
    corpus never materializes a posting table), tf/df as two tiny keyed
    aggs, corpus stats broadcast — no UDFs, no collect."""
    from pincspark.operators.search import bm25_scores

    docs = table(spark, sf_dir, "documents")
    return bm25_scores(docs, "doc_id", "text", _BM25_TERMS)


def _q48_oracle() -> str:
    toks = _SQL_TOKS.format(c=_SQL_NORM.format(c="text"))
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    # constants spelled exactly as the Spark plan folds them:
    # k1=1.2, b=0.75 -> k1+1=2.2, 1-b=0.25
    return f"""
WITH toks_t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), tok AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM toks_t
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, MIN(dl) AS dl
  FROM tok WHERE term IN ({terms})
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         AVG(len({toks})) AS avgdl
  FROM documents
)
SELECT tf.doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_terms_matched,
       ROUND(SUM(
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
       ), 6) AS score
FROM tf JOIN dfreq USING (term) CROSS JOIN stats
GROUP BY tf.doc_id
"""


ORACLE_Q48 = _q48_oracle()


def q55_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion — the
    standard modern retrieval combiner, composed from the oracled BM25
    (q48) and cosine top-k (q18) machinery: the 4-term lexical query's
    top-100 and the doc-0 embedding's top-100 fuse as
    1/(60+r_lex) + 1/(60+r_vec); fused top-10. Both input lists come
    from two-phase top-k (never a global sort of the corpus); the fusion
    itself runs on <= 200 rows."""
    from pincspark.operators.search import bm25_scores, rrf_fuse
    from pincspark.operators.similarity import _two_phase_topk, cosine_topk

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = _two_phase_topk(
        bm25_scores(docs, "doc_id", "text", _BM25_TERMS)
        .withColumn("__q", F.lit(0))
        .select("__q", F.col("doc_id").alias("neighbor_id"), "score"),
        "__q",
        100,
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    vq = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    vec = cosine_topk(emb, vq, k=100).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return rrf_fuse(lex, vec, "doc_id", "rank", k=10, c=60).select(
        "doc_id", "lex_rank", "vec_rank", "rrf_score", "fused_rank"
    )


def _q55_oracle() -> str:
    toks = _SQL_TOKS.format(c=_SQL_NORM.format(c="text"))
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks_t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), tok AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM toks_t
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf, MIN(dl) AS dl
  FROM tok WHERE term IN ({terms})
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         AVG(len({toks})) AS avgdl
  FROM documents
), bm AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
         ), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
  GROUP BY tf.doc_id
), lex AS (
  SELECT doc_id, r FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM bm
  ) WHERE r <= 100
), e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), vq AS (
  SELECT v AS qv FROM e WHERE vec_id = 0
), vs AS (
  SELECT e.vec_id AS doc_id,
         ROUND({_SQL_COS.format(a='e.v', b='vq.qv')}, 6) AS score
  FROM e, vq WHERE e.vec_id <> 0
), vec AS (
  SELECT doc_id, r FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM vs
  ) WHERE r <= 100
), fused AS (
  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
         CAST(lex.r AS INTEGER) AS lex_rank,
         CAST(vec.r AS INTEGER) AS vec_rank,
         ROUND(COALESCE(1.0 / (60.0 + lex.r), 0.0)
               + COALESCE(1.0 / (60.0 + vec.r), 0.0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id, lex_rank, vec_rank, rrf_score, fused_rank FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS INTEGER) AS fused_rank
  FROM fused
) WHERE fused_rank <= 10
"""


ORACLE_Q55 = _q55_oracle()


def q56_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image codec under the oracle gate: every document is
    rendered as a deterministic 8x8 P6 PPM (raster = repeat(md5(text), 6),
    192 pure-ASCII bytes), decoded by the pure-numpy codec in STRICT mode
    (no fake fallback allowed), and reduced to luminance stats + a 2x2
    block-average feature grid. The oracle replicates the byte-level
    arithmetic from the same md5 hex — proving the mapInPandas decode
    stage itself, not just its plumbing."""
    from pincspark.operators.multimodal import decode_image_features

    docs = table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.expr(
            "CAST(concat('P6', chr(10), '8 8', chr(10), '255', chr(10), "
            "repeat(md5(text), 6)) AS BINARY)"
        ).alias("content"),
    )
    feats = decode_image_features(media, dim=4, strict=True)
    return feats.select(
        "media_id",
        "n_bytes",
        "mean_intensity",
        *[F.element_at("feature", i + 1).alias(f"f{i}") for i in range(4)],
    )


def _q56_oracle() -> str:
    # cell (by, bx) averages the 16 luminances of its 4x4 pixel block;
    # pixel (y, x) -> raster bytes 3*(y*8+x)+1 .. +3 (1-based).
    # Arithmetic contract shared with the numpy codec (ADVICE r4 #3): sum
    # the RAW integer byte values first (integer sums in float64 are exact
    # in any fold order, so engines cannot diverge), then divide in the
    # fixed sequence / 3.0 / count / 255.0 — the codec performs the same
    # IEEE ops in the same order (multimodal._decode_image_bytes).
    cells = []
    for by in range(2):
        for bx in range(2):
            terms = []
            for j in range(16):
                y, x = by * 4 + j // 4, bx * 4 + j % 4
                p = 3 * (y * 8 + x)
                terms.append(f"bv[{p + 1}] + bv[{p + 2}] + bv[{p + 3}]")
            cells.append(
                f"ROUND(({' + '.join(terms)}) / 3.0 / 16.0 / 255.0, 9) AS f{by * 2 + bx}"
            )
    cell_sql = ",\n       ".join(cells)
    return f"""
WITH r AS (
  SELECT doc_id AS media_id, repeat(md5(text), 6) AS ras FROM documents
), b AS (
  SELECT media_id,
         list_transform(generate_series(1, 192),
                        i -> CAST(ascii(substring(ras, i, 1)) AS DOUBLE)) AS bv
  FROM r
)
SELECT media_id,
       CAST(203 AS INTEGER) AS n_bytes,
       ROUND(list_sum(bv) / 3.0 / 64.0 / 255.0, 9) AS mean_intensity,
       {cell_sql}
FROM b
"""


ORACLE_Q56 = _q56_oracle()


def q57_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL compressed-image codec under the oracle gate: the q56
    raster (repeat(md5(text), 6) as an 8x8 RGB image) is PNG-ENCODED in a
    mapInPandas stage — filter type doc_id % 5, so all five PNG scanline
    filters are exercised across the corpus — then decoded back by the
    pure-stdlib zlib+unfilter codec in STRICT mode (no fake fallback).
    PNG is lossless, so the analytic oracle sees straight through the
    DEFLATE container to the same byte arithmetic as q56: any codec bug
    (filter reconstruction, chunk walk, inflate handling) breaks parity.
    n_bytes is excluded from the output on purpose — it is the compressed
    size, which no SQL engine can re-derive."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.multimodal import decode_image_features, png_encode

    def _mint(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                hexd = hashlib.md5(row.text.encode("utf-8")).hexdigest()
                raster = np.frombuffer(
                    (hexd * 6).encode("ascii"), dtype=np.uint8
                ).reshape(8, 8, 3)
                rows.append((
                    int(row.doc_id),
                    png_encode(
                        raster,
                        int(row.doc_id) % 5,
                        # odd docs mint Adam7 (lossless, so the analytic
                        # oracle is unchanged): the 7-pass scatter decode
                        # path shares the hard gate with the linear path
                        interlace=bool(int(row.doc_id) % 2),
                    ),
                ))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    from pincspark.operators.dedup import _spread

    # mint+decode are CPU-heavy Python per doc; a compact docs table often
    # arrives as ONE parquet split, which would serialize the whole stage
    # (31 s measured for q61 at sf0.1 vs ~1 s spread). _spread is
    # conditional: an already-well-split 100-TB table is left alone.
    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    media = docs.mapInPandas(
        _mint, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("image"))
    feats = decode_image_features(media, dim=4, strict=True)
    return feats.select(
        "media_id",
        "mean_intensity",
        *[F.element_at("feature", i + 1).alias(f"f{i}") for i in range(4)],
    )


def _q57_oracle() -> str:
    # identical analytic arithmetic to q56 (the PNG round-trip is
    # lossless), minus the container-dependent n_bytes column
    cells = []
    for by in range(2):
        for bx in range(2):
            terms = []
            for j in range(16):
                y, x = by * 4 + j // 4, bx * 4 + j % 4
                p = 3 * (y * 8 + x)
                terms.append(f"bv[{p + 1}] + bv[{p + 2}] + bv[{p + 3}]")
            cells.append(
                f"ROUND(({' + '.join(terms)}) / 3.0 / 16.0 / 255.0, 9) AS f{by * 2 + bx}"
            )
    cell_sql = ",\n       ".join(cells)
    return f"""
WITH r AS (
  SELECT doc_id AS media_id, repeat(md5(text), 6) AS ras FROM documents
), b AS (
  SELECT media_id,
         list_transform(generate_series(1, 192),
                        i -> CAST(ascii(substring(ras, i, 1)) AS DOUBLE)) AS bv
  FROM r
)
SELECT media_id,
       ROUND(list_sum(bv) / 3.0 / 64.0 / 255.0, 9) AS mean_intensity,
       {cell_sql}
FROM b
"""


ORACLE_Q57 = _q57_oracle()


def q58_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL LZW codec under the oracle gate: the md5 raster renders as
    an 8x24 palette-indexed GIF87a (grayscale identity palette, genuine
    LZW compression with dictionary growth), decoded back by the
    pure-stdlib codec in STRICT mode. GIF is lossless, so the analytic
    oracle sees through the LZW container to the raw index arithmetic —
    any decompressor bug (width sync, CLEAR resets, the KwKwK case)
    breaks parity. Pixel luminance is 3*index/3, so features triple the
    byte values and divide in the shared fixed IEEE sequence."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.multimodal import decode_image_features, gif_encode

    pal = np.arange(256, dtype=np.uint8)[:, None].repeat(3, axis=1)

    def _mint(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                hexd = hashlib.md5(row.text.encode("utf-8")).hexdigest()
                idx = np.frombuffer(
                    (hexd * 6).encode("ascii"), dtype=np.uint8
                ).astype(np.int64).reshape(8, 24)
                rows.append((
                    int(row.doc_id),
                    # odd docs mint 4-pass interlaced frames (lossless;
                    # oracle unchanged) — the row-un-permute decode path
                    # shares the hard gate
                    gif_encode(idx, pal, interlace=bool(int(row.doc_id) % 2)),
                ))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    from pincspark.operators.dedup import _spread

    # mint+decode are CPU-heavy Python per doc; a compact docs table often
    # arrives as ONE parquet split, which would serialize the whole stage
    # (31 s measured for q61 at sf0.1 vs ~1 s spread). _spread is
    # conditional: an already-well-split 100-TB table is left alone.
    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    media = docs.mapInPandas(
        _mint, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("image"))
    feats = decode_image_features(media, dim=4, strict=True)
    return feats.select(
        "media_id",
        "mean_intensity",
        *[F.element_at("feature", i + 1).alias(f"f{i}") for i in range(4)],
    )


def _q58_oracle() -> str:
    # 8x24 pixel grid, 2x2 feature cells of 4x12 pixels; pixel (y, x) is
    # palette entry bv[y*24 + x + 1] replicated to RGB, so the codec's
    # r+g+b sum is 3 * index — exact integers until the fixed division
    # sequence / 3.0 / count / 255.0 shared with the codec
    cells = []
    for by in range(2):
        for bx in range(2):
            terms = []
            for y in range(by * 4, by * 4 + 4):
                for x in range(bx * 12, bx * 12 + 12):
                    terms.append(f"bv[{y * 24 + x + 1}]")
            cells.append(
                f"ROUND(3 * ({' + '.join(terms)}) / 3.0 / 48.0 / 255.0, 9) AS f{by * 2 + bx}"
            )
    cell_sql = ",\n       ".join(cells)
    return f"""
WITH r AS (
  SELECT doc_id AS media_id, repeat(md5(text), 6) AS ras FROM documents
), b AS (
  SELECT media_id,
         list_transform(generate_series(1, 192),
                        i -> CAST(ascii(substring(ras, i, 1)) AS DOUBLE)) AS bv
  FROM r
)
SELECT media_id,
       ROUND(3 * list_sum(bv) / 3.0 / 192.0 / 255.0, 9) AS mean_intensity,
       {cell_sql}
FROM b
"""


ORACLE_Q58 = _q58_oracle()


def q60_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The from-scratch baseline JPEG codec (operators/jpeg.py: canonical
    Huffman entropy decode, dequant, float IDCT, YCbCr->RGB) under the
    oracle gate. Each document renders as a 16x16 gray-valued RGB image of
    four 8x8-CONSTANT blocks, block (by, bx) = ascii(md5(text)[2*by+bx]);
    with all-ones quant tables that construction is BIT-EXACT through the
    whole lossy pipeline (a constant block has only the DC coefficient
    8*(v-128), an exact integer, and gray survives YCbCr both ways), so
    the analytic oracle sees straight through the entropy-coded container:
    any Huffman/zigzag/IDCT/color bug breaks parity. The corpus rotates
    three container forms by doc_id % 3 — baseline 4:4:4, baseline 4:2:0
    (gray chroma is constant 128, so subsampling is lossless here), and
    PROGRESSIVE 4:2:0 with two-level successive approximation (a
    lossless re-layout of the same coefficients) — so the subsampled
    MCU interleave, the multi-scan accumulation, the EOBn runs, and the
    G.1.2.3 refinement decode all sit under the same hard gate. Decoded
    in STRICT mode — no fake fallback allowed. n_bytes (compressed
    size) excluded, as in q57/q58."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.jpeg import jpeg_encode
    from pincspark.operators.multimodal import decode_image_features

    def _mint(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                hexd = hashlib.md5(row.text.encode("utf-8")).hexdigest()
                vals = np.frombuffer(hexd[:4].encode("ascii"), dtype=np.uint8)
                img = np.repeat(np.repeat(vals.reshape(2, 2), 8, 0), 8, 1)
                rgb = np.repeat(img[:, :, None], 3, 2).astype(np.int64)
                # doc_id % 3 rotates the container form — all lossless
                # on this construction, so ONE analytic oracle gates the
                # baseline-4:4:4, baseline-4:2:0, and progressive-with-
                # successive-approximation decode paths alike
                variant = int(row.doc_id) % 3
                if variant == 0:
                    blob = jpeg_encode(rgb)
                elif variant == 1:
                    blob = jpeg_encode(rgb, subsample="420")
                else:
                    blob = jpeg_encode(
                        rgb, subsample="420", progressive=True, prog_al=1
                    )
                rows.append((int(row.doc_id), blob))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    from pincspark.operators.dedup import _spread

    # mint+decode are CPU-heavy Python per doc; a compact docs table often
    # arrives as ONE parquet split, which would serialize the whole stage
    # (31 s measured for q61 at sf0.1 vs ~1 s spread). _spread is
    # conditional: an already-well-split 100-TB table is left alone.
    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    media = docs.mapInPandas(
        _mint, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("image"))
    feats = decode_image_features(media, dim=4, strict=True)
    return feats.select(
        "media_id",
        "mean_intensity",
        *[F.element_at("feature", i + 1).alias(f"f{i}") for i in range(4)],
    )


def _q60_oracle() -> str:
    # 16x16 raster of four 8x8-constant gray blocks; feature cell
    # (by, bx) == block (by, bx), so f_k is block value v_k = ascii of
    # md5-hex char k+1. Codec arithmetic: cell sum = 64 px * 3*v (exact
    # ints in float64), then the fixed division sequence
    # / 3.0 / count / 255.0 — mirrored op-for-op here (same contract as
    # q56/q57/q58).
    cells = ",\n       ".join(
        f"ROUND(3 * 64 * bv[{k + 1}] / 3.0 / 64.0 / 255.0, 9) AS f{k}"
        for k in range(4)
    )
    return f"""
WITH b AS (
  SELECT doc_id AS media_id,
         list_transform(generate_series(1, 4),
                        i -> CAST(ascii(substring(md5(text), i, 1)) AS DOUBLE)) AS bv
  FROM documents
)
SELECT media_id,
       ROUND(3 * 64 * (bv[1] + bv[2] + bv[3] + bv[4]) / 3.0 / 256.0 / 255.0, 9)
         AS mean_intensity,
       {cells}
FROM b
"""


ORACLE_Q60 = _q60_oracle()


def q61_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The from-scratch FLAC decoder (operators/flac.py: Rice residuals,
    FIXED prediction, CRC-verified frames) under the oracle gate. Each
    document renders as a 1024-sample mono FLAC (rate 8000, fixed2
    subframe — real Rice-coded residual decode in the hot path) of eight
    128-sample CONSTANT segments whose values are POWERS OF TWO derived
    from md5 hex: k_i = 1 << (6 + ascii(md5(text)[i]) % 9). FLAC is
    lossless, and with power-of-two samples every feature intermediate is
    EXACT in float64 (squares are powers of 4; their sums/divisions by
    powers of two stay exact; IEEE sqrt is correctly rounded), so the
    analytic oracle sees straight through the Rice/UTF-8/CRC container:
    any bitstream bug breaks parity. The exponent range [6, 14] keeps
    every band RMS 2^(e-15) at <= 9 DECIMAL digits, so the final
    round(x, 9) is exact — smaller exponents land on exact .5 decimal
    ties where Python (banker's) and SQL (half-away-from-zero) rounding
    legitimately disagree. Decoded in STRICT mode; n_bytes (compressed
    size) excluded as in q57/q58/q60, and so is the overall rms: with
    equal-size constant bands it is fully derivable from the 8 band
    values (zero extra decode signal), and when sum(4^e)/8 happens to be
    a perfect square it lands on 10-digit binary rationals (e.g.
    13/1024) that hit the same 9-dp rounding tie — measured live at
    sf0.01."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.flac import flac_encode
    from pincspark.operators.multimodal import decode_audio_features

    def _mint(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                hexd = hashlib.md5(row.text.encode("utf-8")).hexdigest()
                vals = np.array(
                    [1 << (6 + ord(c) % 9) for c in hexd[:8]], dtype=np.int64
                )
                sig = np.repeat(vals, 128)
                rows.append(
                    (int(row.doc_id), flac_encode(sig, rate=8000, mode="fixed2"))
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    from pincspark.operators.dedup import _spread

    # mint+decode are CPU-heavy Python per doc; a compact docs table often
    # arrives as ONE parquet split, which would serialize the whole stage
    # (31 s measured for q61 at sf0.1 vs ~1 s spread). _spread is
    # conditional: an already-well-split 100-TB table is left alone.
    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    media = docs.mapInPandas(
        _mint, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("audio"))
    feats = decode_audio_features(media, dim=8, strict=True)
    return feats.select(
        "media_id",
        "sample_rate",
        "duration_ms",
        *[F.element_at("feature", i + 1).alias(f"f{i}") for i in range(8)],
    )


def _q61_oracle() -> str:
    # Band i holds 128 identical samples k = 2^e_i, so its RMS is exactly
    # 2^e_i / 32768; the overall mean of squares is 128 * sum(4^e_i) /
    # 1024 / 2^30 — every term a power of two, every op exact, computed
    # with integer shifts (not POW) so no libm rounding can differ.
    feats = ",\n       ".join(
        f"ROUND(CAST(1 << e[{i + 1}] AS DOUBLE) / 32768.0, 9) AS f{i}"
        for i in range(8)
    )
    return f"""
WITH b AS (
  SELECT doc_id AS media_id,
         list_transform(generate_series(1, 8),
                        i -> 6 + ascii(substring(md5(text), i, 1)) % 9) AS e
  FROM documents
)
SELECT media_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(128 AS INTEGER) AS duration_ms,
       {feats}
FROM b
"""


ORACLE_Q61 = _q61_oracle()


def q63_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The from-scratch lossless-WebP (VP8L) codec under the oracle gate:
    the q56 raster (repeat(md5(text), 6) as an 8x8 RGB image) is
    VP8L-ENCODED in a mapInPandas stage (`operators/webp.py`: LSB-first
    bitstream, per-channel Huffman codes incl. the max_symbol shortcut
    and the 19-symbol code-length code) and decoded back by the same
    module's full decoder in STRICT mode. VP8L is lossless, so the
    analytic oracle is identical to q57's — it sees straight through the
    Huffman container to the raw byte arithmetic; any codec bug breaks
    parity. Registered past the 50-query harness window (the window's
    codec risk-slots are held by q57/q58/q60/q61); gated locally by
    tests/test_oracle_parity.py over the full catalog."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.dedup import _spread
    from pincspark.operators.multimodal import decode_image_features
    from pincspark.operators.webp import webp_encode

    def _mint(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                hexd = hashlib.md5(row.text.encode("utf-8")).hexdigest()
                raster = np.frombuffer(
                    (hexd * 6).encode("ascii"), dtype=np.uint8
                ).reshape(8, 8, 3)
                rows.append((int(row.doc_id), webp_encode(raster)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    media = docs.mapInPandas(
        _mint, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("image"))
    feats = decode_image_features(media, dim=4, strict=True)
    return feats.select(
        "media_id",
        "mean_intensity",
        *[F.element_at("feature", i + 1).alias(f"f{i}") for i in range(4)],
    )


def q65_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The from-scratch baseline-TIFF codec under the oracle gate: the q56
    raster (repeat(md5(text), 6) as an 8x8 RGB image) is TIFF-ENCODED in a
    mapInPandas stage (`operators/tiff.py`) with the container rotating by
    doc_id % 4 over all four compressions — none, PackBits, TIFF-LZW
    (early-change), Deflate (+ horizontal predictor on the latter two) —
    and decoded back by the same module's decoder in STRICT mode. TIFF is
    lossless, so the analytic oracle is identical to q57's; any
    IFD/RLE/LZW/predictor bug breaks parity. Unlike the sibling codecs the
    whole module is ALSO cross-implementation gated against the JDK's
    independent TIFF plugin (tests/test_tiff.py). Registered past the
    50-query harness window (the r8 rotation slots went to q63/q64);
    gated locally by tests/test_oracle_parity.py over the full catalog."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.dedup import _spread
    from pincspark.operators.multimodal import decode_image_features
    from pincspark.operators.tiff import tiff_encode

    def _mint(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        variants = [
            dict(compression="none"),
            dict(compression="packbits"),
            dict(compression="lzw", predictor=True),
            dict(compression="deflate", predictor=True),
        ]
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                hexd = hashlib.md5(row.text.encode("utf-8")).hexdigest()
                raster = np.frombuffer(
                    (hexd * 6).encode("ascii"), dtype=np.uint8
                ).reshape(8, 8, 3)
                kw = variants[int(row.doc_id) % 4]
                rows.append((int(row.doc_id), tiff_encode(raster, **kw)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    media = docs.mapInPandas(
        _mint, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("image"))
    feats = decode_image_features(media, dim=4, strict=True)
    return feats.select(
        "media_id",
        "mean_intensity",
        *[F.element_at("feature", i + 1).alias(f"f{i}") for i in range(4)],
    )


def q66_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) under the oracle gate: nearest-centroid
    clustering (deterministic first-16 centroids, ORACLE_Q22's
    arrangement), then within-cluster near-duplicate pruning with the
    keep-the-furthest-from-centroid rule -> (vec_id, cell, cent_sim,
    kept). tau=0.4 (not the paper's 0.95) so the synthetic embeddings
    actually produce drops to gate; the operator is
    `pincspark.operators.dedup.semantic_dedup`.

    target_cluster_size=125 (r11): the cluster count tracks the corpus —
    max(16, ceil(N/125)), mirrored in the oracle's windowed centroid
    pick — so per-cluster pair work stays bounded as the corpus grows
    (at sf0.01/sf0.1 this resolves to the same first-16 centroids as
    before; the r11 scale probe measured the FIXED-16 form at 22.7x
    runtime for 16x data — quadratic within growing clusters)."""
    from pincspark.operators.dedup import semantic_dedup

    emb = table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", tau=0.4, warn_excluded=False,
        target_cluster_size=125,
    ).select("vec_id", "cell", "cent_sim", "kept")


ORACLE_Q66 = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  -- first max(16, ceil(N/125)) vectors by id (mirrors target_cluster_size)
  SELECT vec_id AS cell, v AS cv FROM (
    SELECT vec_id, v,
           row_number() OVER (ORDER BY vec_id) AS rn,
           COUNT(*) OVER () AS n
    FROM e
  ) WHERE rn <= GREATEST(16, CAST(CEIL(n / 125.0) AS BIGINT))
), assign AS (
  SELECT vec_id, v, cell, cs FROM (
    SELECT e.vec_id, e.v, cent.cell,
           ROUND({_SQL_COS.format(a='e.v', b='cent.cv')}, 9) AS cs,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND({_SQL_COS.format(a='e.v', b='cent.cv')}, 9) DESC, cent.cell ASC
           ) AS rn
    FROM e, cent
  ) WHERE rn = 1
), sizes AS (
  SELECT cell AS c2, COUNT(*) AS n FROM assign GROUP BY cell
), prunable AS (
  SELECT a.* FROM assign a JOIN sizes s ON a.cell = s.c2 AND s.n <= 4096
), dominated AS (
  SELECT DISTINCT x.vec_id FROM prunable x JOIN prunable y
    ON x.cell = y.cell
   AND (y.cs < x.cs OR (y.cs = x.cs AND y.vec_id < x.vec_id))
   AND ROUND({_SQL_COS.format(a='x.v', b='y.v')}, 9) >= 0.4
)
SELECT a.vec_id AS vec_id, a.cell AS cell,
       ROUND(a.cs, 6) AS cent_sim,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM assign a LEFT JOIN dominated d ON a.vec_id = d.vec_id
"""


def q59_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication census (Lee et al. 2022 substring-dedup
    signal): per document, how many of its distinct 8-token spans also occur
    in another document — the boilerplate/mirror-content signal whole-doc
    Jaccard misses. One window on the span hash + one keyed agg; no joins or
    pair expansion.

    Hashed projection is the two exact BIGINT counters plus dup_ppm (pure
    integer arithmetic): the library operator's rounded-double dup_frac is
    derivable from them but is excluded here because ROUND(double, 6) ulps
    vary across DuckDB builds/libm (the r6 driver-red class)."""
    from pincspark.operators.dedup import duplicate_span_stats

    docs = table(spark, sf_dir, "documents")
    return duplicate_span_stats(docs, "doc_id", "text", n=8).select(
        "doc_id", "n_spans", "dup_spans", "dup_ppm"
    )


def _q59_oracle() -> str:
    # Version-robust forms only: explicit list_slice (not bracket slicing
    # sugar), list_distinct + plain unnest in its own subquery (not
    # DISTINCT-over-unnest, whose evaluation order is version-sensitive),
    # and BIGINT-only output arithmetic (no rounded doubles in the hashed
    # projection).
    span = (
        "CASE WHEN len(toks) >= 8 THEN "
        "list_transform(generate_series(1, len(toks) - 7), "
        "i -> array_to_string(list_slice(toks, i, i + 7), ' ')) "
        "ELSE [array_to_string(toks, ' ')] END"
    )
    return f"""
WITH toks_t AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM documents
), sp AS (
  SELECT doc_id, list_distinct({span}) AS spans FROM toks_t
), sh AS (
  SELECT doc_id, unnest(spans) AS s FROM sp
), hh AS (
  SELECT doc_id, CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) AS h FROM sh
), c AS (
  SELECT h, COUNT(*) AS dc FROM hh GROUP BY h
)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN dc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       CAST((SUM(CASE WHEN dc > 1 THEN 1 ELSE 0 END) * CAST(1000000 AS BIGINT))
         // COUNT(*) AS BIGINT) AS dup_ppm
FROM hh JOIN c USING (h)
GROUP BY doc_id
"""


ORACLE_Q59 = _q59_oracle()


def q67_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020): a bigram
    add-0.5 LM trained on the lang='en' slice scores EVERY document's
    cross-entropy; OOV bigrams smooth to the 1/V floor. The operator is
    `pincspark.operators.lm.ngram_lm_perplexity`; hashed projection is
    the two exact BIGINT counters + the 6-dp entropy (exp(H) perplexity
    deliberately excluded — it amplifies last-ulp ln differences by the
    perplexity itself, the q59 driver-red class)."""
    from pincspark.operators.lm import ngram_lm_perplexity

    docs = table(spark, sf_dir, "documents")
    return ngram_lm_perplexity(
        docs, "doc_id", "text", train_filter=F.col("lang") == "en", alpha=0.5
    ).select("doc_id", "n_bigrams", "oov_bigrams", "cross_entropy")


def _q67_oracle() -> str:
    # Version-robust forms (q59 lesson list): lateral unnest over
    # generate_series + explicit list_extract for the bigram explode (no
    # zipped parallel unnest / bracket sugar), BIGINT casts on every
    # integer output (SUM is HUGEINT in DuckDB), and the only double in
    # the hashed projection is ROUND(sum-of-ln, 6) — the q48 precedent.
    toks = _SQL_TOKS.format(c="text")
    return f"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS is_train, {toks} AS toks FROM documents
), big AS (
  SELECT doc_id, is_train,
         list_extract(toks, i) AS w1, list_extract(toks, i + 1) AS w2
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) u
), pdc AS (
  SELECT doc_id, is_train, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM big GROUP BY doc_id, is_train, w1, w2
), gb AS (
  SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS cb
  FROM pdc WHERE is_train GROUP BY w1, w2
), ctx AS (
  SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw1 FROM gb GROUP BY w1
), vs AS (
  SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM gb
)
SELECT pdc.doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN gb.cb IS NULL THEN cnt ELSE 0 END) AS BIGINT)
         AS oov_bigrams,
       ROUND(-SUM(cnt * ln(
           (COALESCE(gb.cb, 0) + 0.5) / (COALESCE(ctx.cw1, 0) + 0.5 * v)
         )) / SUM(cnt), 6) AS cross_entropy
FROM pdc
LEFT JOIN gb ON pdc.w1 = gb.w1 AND pdc.w2 = gb.w2
LEFT JOIN ctx ON pdc.w1 = ctx.w1
CROSS JOIN vs
GROUP BY pdc.doc_id
"""


ORACLE_Q67 = _q67_oracle()


def q68_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): per-document log importance
    weight under the hashed-ngram target-vs-source bucket model, target =
    lang='en'. Operator: `pincspark.operators.lm.dsir_log_weights`."""
    from pincspark.operators.lm import dsir_log_weights

    docs = table(spark, sf_dir, "documents")
    return dsir_log_weights(
        docs, "doc_id", "text", target_filter=F.col("lang") == "en",
        n_buckets=4096, alpha=0.5,
    )


def _q68_oracle() -> str:
    # Same robustness kit as q67; the bucket hash is the dedup.py 32-bit
    # md5-prefix idiom, byte-identical across engines.
    toks = _SQL_TOKS.format(c="text")
    return f"""
WITH tok AS (
  SELECT doc_id, lang = 'en' AS is_target, {toks} AS toks FROM documents
), feat AS (
  SELECT doc_id, is_target, unnest(toks) AS f FROM tok
  UNION ALL
  SELECT doc_id, is_target,
         list_extract(toks, i) || ' ' || list_extract(toks, i + 1) AS f
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) u
), bucketed AS (
  SELECT doc_id, is_target,
         CAST(('0x' || substring(md5(f), 1, 8)) AS BIGINT) % 4096 AS b
  FROM feat
), pdc AS (
  SELECT doc_id, is_target, b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bucketed GROUP BY doc_id, is_target, b
), tgt AS (
  SELECT b, CAST(SUM(cnt) AS BIGINT) AS ct FROM pdc WHERE is_target GROUP BY b
), src AS (
  SELECT b, CAST(SUM(cnt) AS BIGINT) AS cs FROM pdc GROUP BY b
), totals AS (
  SELECT CAST(SUM(CASE WHEN is_target THEN cnt ELSE 0 END) AS BIGINT) AS tot_t,
         CAST(SUM(cnt) AS BIGINT) AS tot_s
  FROM pdc
)
SELECT pdc.doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_feats,
       ROUND(SUM(cnt * (
           ln((COALESCE(tgt.ct, 0) + 0.5) / (tot_t + 0.5 * 4096))
         - ln((src.cs + 0.5) / (tot_s + 0.5 * 4096))
       )), 6) AS log_weight
FROM pdc
LEFT JOIN tgt ON pdc.b = tgt.b
JOIN src ON pdc.b = src.b
CROSS JOIN totals
GROUP BY pdc.doc_id
"""


ORACLE_Q68 = _q68_oracle()


def q69_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted multi-source sampling (XLM-R mixing rule):
    per-source keep rates ~ n_s^0.5 under a 50% token budget, applied as
    the deterministic md5 hash filter. Operator:
    `pincspark.operators.sampling.temperature_sample`."""
    from pincspark.operators.sampling import temperature_sample

    docs = table(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "doc_id", "source", alpha=0.5, budget_fraction=0.5, salt="temp"
    )


def _q69_oracle() -> str:
    # The kept decision mirrors the Spark expression nesting exactly and
    # compares an INTEGER hash against rate * 2^32 (an ulp-robust
    # comparison); only the reported keep_rate is rounded.
    h = sample_sql = (
        "CAST(('0x' || substring(md5('temp' || ':' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    )
    rate = (
        "least(1.0, 0.5 * __n * (__w / __wsum) / n_source)"
    )
    return f"""
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source FROM documents GROUP BY source
), weights AS (
  SELECT source, n_source, pow(CAST(n_source AS DOUBLE), 0.5) AS __w FROM counts
), totals AS (
  SELECT CAST(SUM(n_source) AS BIGINT) AS __n, SUM(__w) AS __wsum FROM weights
), rates AS (
  SELECT source, n_source, {rate} AS keep_rate
  FROM weights CROSS JOIN totals
)
SELECT d.doc_id,
       d.source,
       r.n_source,
       ROUND(r.keep_rate, 6) AS keep_rate,
       CAST(CASE WHEN {h} < r.keep_rate * 4294967296.0 THEN 1 ELSE 0 END
            AS INTEGER) AS kept
FROM documents d JOIN rates r ON d.source = r.source
"""


ORACLE_Q69 = _q69_oracle()


def q70_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over lineitem's two join/filter
    dimensions (l_partkey, l_suppkey): the Delta/Iceberg OPTIMIZE ZORDER
    layout step, emitted as (row identity, dims, zkey, zbucket) so the
    pure-integer key arithmetic is oracle-checkable. The write/prune side
    is exercised in tests/test_layout.py. Operator:
    `pincspark.operators.layout.zorder_assign`."""
    from pincspark.operators.layout import zorder_assign

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return zorder_assign(li, ["l_partkey", "l_suppkey"], bits=16, n_buckets=64)


def _q70_oracle() -> str:
    from pincspark.operators.layout import zorder_oracle_sql

    inner = zorder_oracle_sql(
        "(SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem)",
        ["l_partkey", "l_suppkey"],
        bits=16,
        n_buckets=64,
    )
    return f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, zkey, zbucket
FROM ({inner})
"""


ORACLE_Q70 = _q70_oracle()


def q71_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup: the src0 slice plays the NEW
    crawl, every other source the EXISTING corpus; each new document is
    flagged exact-dup (fingerprint already in the prior corpus) and
    near-dup (shares an LSH band bucket with a prior doc at estimated
    Jaccard >= 0.5). Operator:
    `pincspark.operators.dedup.incremental_dedup` (with
    `dedup_snapshot` as the persistable prior-state table)."""
    from pincspark.operators.dedup import incremental_dedup

    docs = table(spark, sf_dir, "documents")
    return incremental_dedup(
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") != "src0"),
        "doc_id",
        "text",
        n=3,
        num_perms=16,
        bands=4,
        tau=0.5,
    )


def _q71_oracle() -> str:
    # Version-robust forms (the q59 lesson list): explicit list_slice for
    # the shingle windows, DISTINCT in its own subquery, INTEGER casts on
    # every flag. best_est values are multiples of 1/16 (exactly binary-
    # representable), so MAX-then-ROUND is float-hazard-free.
    shingle = (
        "CASE WHEN len(toks) >= 3 THEN "
        "list_transform(generate_series(1, len(toks) - 2), "
        "i -> array_to_string(list_slice(toks, i, i + 2), ' ')) "
        "ELSE [array_to_string(toks, ' ')] END"
    )
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )

    def bands_sql(src: str) -> str:
        return "\n  UNION ALL\n".join(
            f"  SELECT doc_id, {b} AS band, concat_ws(',', "
            + ", ".join(f"mh{b * 4 + r}" for r in range(4))
            + f") AS sig FROM {src}"
            for b in range(4)
        )

    eqs = " + ".join(f"CAST(sa.mh{i} = sb.mh{i} AS INTEGER)" for i in range(16))
    toks = _SQL_TOKS.format(c=_SQL_NORM.format(c="text"))
    return f"""
WITH nd AS (
  SELECT doc_id, text FROM documents WHERE source = 'src0'
), pd AS (
  SELECT doc_id, text FROM documents WHERE source <> 'src0'
), nfp AS (
  SELECT doc_id, md5({_SQL_NORM.format(c='text')}) AS fp FROM nd
), pfp AS (
  SELECT DISTINCT md5({_SQL_NORM.format(c='text')}) AS fp FROM pd
), ntok AS (
  SELECT doc_id, {toks} AS toks FROM nd
), ptok AS (
  SELECT doc_id, {toks} AS toks FROM pd
), nsh AS (
  SELECT doc_id, unnest(list_distinct({shingle})) AS shingle FROM ntok
), psh AS (
  SELECT doc_id, unnest(list_distinct({shingle})) AS shingle FROM ptok
), nhh AS (
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h FROM nsh
), phh AS (
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h FROM psh
), nsig AS (
  SELECT doc_id,
         {mins}
  FROM nhh GROUP BY doc_id
), psig AS (
  SELECT doc_id,
         {mins}
  FROM phh GROUP BY doc_id
), nband AS (
{bands_sql('nsig')}
), pband AS (
{bands_sql('psig')}
), bucket_ok AS (
  -- mirrors incremental_dedup's max_bucket_size=1000 PRIOR-bucket cap
  SELECT band, sig FROM pband GROUP BY band, sig HAVING COUNT(*) <= 1000
), cand AS (
  SELECT nb.doc_id AS did, MAX(({eqs}) / 16.0) AS best
  FROM nband nb
  JOIN pband pb ON nb.band = pb.band AND nb.sig = pb.sig
  JOIN bucket_ok k ON nb.band = k.band AND nb.sig = k.sig
  JOIN nsig sa ON nb.doc_id = sa.doc_id
  JOIN psig sb ON pb.doc_id = sb.doc_id
  GROUP BY nb.doc_id
)
SELECT nfp.doc_id AS doc_id,
       CAST(CASE WHEN pfp.fp IS NULL THEN 0 ELSE 1 END AS INTEGER) AS exact_dup,
       CAST(CASE WHEN COALESCE(c.best, -1) >= 0.5 THEN 1 ELSE 0 END AS INTEGER)
         AS near_dup,
       ROUND(c.best, 6) AS best_est,
       CAST(CASE WHEN pfp.fp IS NULL AND COALESCE(c.best, -1) < 0.5
            THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM nfp
LEFT JOIN pfp ON nfp.fp = pfp.fp
LEFT JOIN cand c ON nfp.doc_id = c.did
"""


ORACLE_Q71 = _q71_oracle()


def q72_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screen decontamination: build a 2^20-bit Bloom filter over the
    benchmark split's (doc_id % 17 == 0, q37's stand-in) distinct 3-gram
    shingles, broadcast it, and screen every train document with ZERO
    corpus shuffle — per doc: distinct shingles, Bloom hits (all-k-bits),
    integer hit-ppm, and the flag that routes the doc into the exact
    containment join (q37). The screen has no false negatives, so
    screen-then-verify equals the exact sweep at a fraction of the
    shuffle. Operators: `pincspark.operators.bloom.bloom_build` /
    `bloom_screen`."""
    from pincspark.operators.bloom import bloom_build, bloom_screen

    docs = table(spark, sf_dir, "documents")
    bloom = bloom_build(
        docs.filter(F.col("doc_id") % 17 == 0), "doc_id", "text", n=3
    )
    return bloom_screen(
        docs.filter(F.col("doc_id") % 17 != 0),
        bloom,
        "doc_id",
        "text",
        n=3,
        flag_ppm=150_000,
    )


def _q72_oracle() -> str:
    # Version-robust forms (the q59 lesson list): explicit list_slice,
    # DISTINCT in its own subquery, BIGINT-only output arithmetic. The
    # bit positions are 20-bit slices of the shared 60-bit md5-prefix
    # hash; words are 32-bit (shift <= 31, masks stay positive — no
    # BIGINT shift-overflow semantics to reconcile across engines).
    shingle = (
        "CASE WHEN len(toks) >= 3 THEN "
        "list_transform(generate_series(1, len(toks) - 2), "
        "i -> array_to_string(list_slice(toks, i, i + 2), ' ')) "
        "ELSE [array_to_string(toks, ' ')] END"
    )
    pos = "[h & 1048575, (h >> 20) & 1048575, (h >> 40) & 1048575]"
    hits = "SUM(CASE WHEN hits = 3 THEN 1 ELSE 0 END)"
    return f"""
WITH toks_t AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct({shingle})) AS shingle FROM toks_t
), hh AS (
  SELECT doc_id, CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh
), ev AS (
  SELECT DISTINCT h FROM hh WHERE doc_id % 17 = 0
), epos AS (
  SELECT unnest({pos}) AS p FROM ev
), bloom AS (
  SELECT CAST(p >> 5 AS INTEGER) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INTEGER)) AS word
  FROM epos GROUP BY 1
), tpos AS (
  SELECT doc_id, h, unnest({pos}) AS p FROM hh WHERE doc_id % 17 <> 0
), chk AS (
  SELECT t.doc_id, t.h,
         SUM(CASE WHEN (b.word & (CAST(1 AS BIGINT) << CAST(t.p & 31 AS INTEGER))) <> 0
             THEN 1 ELSE 0 END) AS hits
  FROM tpos t LEFT JOIN bloom b ON CAST(t.p >> 5 AS INTEGER) = b.word_idx
  GROUP BY t.doc_id, t.h
)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST({hits} AS BIGINT) AS bloom_hits,
       CAST(({hits} * CAST(1000000 AS BIGINT)) // COUNT(*) AS BIGINT) AS hit_ppm,
       CAST(CASE WHEN ({hits} * CAST(1000000 AS BIGINT)) // COUNT(*) >= 150000
            THEN 1 ELSE 0 END AS INTEGER) AS flagged
FROM chk
GROUP BY doc_id
"""


ORACLE_Q72 = _q72_oracle()


def q73_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest round-trip: pack the documents table into 8
    CommonCrawl-style archives (gzip member per record, deterministic
    synth — the codec-tier pattern), then parse them back with the
    from-scratch reader (`pincspark.sources.warc.warc_records`: stdlib
    zlib member splitting + byte-level WARC/HTTP header parsing inside
    mapInPandas) -> per page: doc_id parsed from the target URI, HTTP
    status, content type, body byte length, body md5. The oracle
    reconstructs every page's exact HTML in SQL, so a single flipped byte
    anywhere in build->compress->split->parse fails the hash."""
    from pincspark.sources.warc import warc_records, warc_synth

    docs = table(spark, sf_dir, "documents")
    recs = warc_records(warc_synth(docs, "doc_id", n_archives=8))
    return recs.select(
        F.regexp_extract("uri", "/doc/([0-9]+)$", 1).cast("long").alias("doc_id"),
        "http_status",
        "content_type",
        "body_len",
        F.md5("body").alias("body_md5"),
    )


# The synth page template, reconstructed piecewise in SQL (kept in lockstep
# with pincspark/sources/warc.py::_HTML_TMPL — test_warc.py pins equality).
_SQL_HTML = (
    "'<!DOCTYPE html>' || chr(10) || "
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' - ' || source || '</title>' || chr(10) || "
    "'<script>var x = 1; // not content</script>' || chr(10) || "
    "'<style>body { margin: 0; }</style>' || chr(10) || "
    "'</head><body>' || chr(10) || "
    "'<nav><a href=\"/home\">Home</a> | <a href=\"/about\">About</a></nav>' || chr(10) || "
    "'<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) || "
    "'<p>' || text || '</p>' || chr(10) || "
    "'<footer>&copy; 2023 Example &amp; Co.</footer>' || chr(10) || "
    "'</body></html>'"
)

ORACLE_Q73 = f"""
WITH page AS (
  SELECT doc_id, {_SQL_HTML} AS html FROM documents
)
SELECT doc_id,
       CAST(200 AS INTEGER) AS http_status,
       'text/html; charset=utf-8' AS content_type,
       CAST(strlen(html) AS BIGINT) AS body_len,
       md5(html) AS body_md5
FROM page
"""


def q74_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction over the synth pages: the boilerplate strip
    every crawl pipeline runs between WARC ingest and the text operators.
    The page is built with pure column concat (JVM-side), extraction is
    the Arrow-batched stdlib-HTMLParser UDF
    (`pincspark.operators.html.html_to_text`): script/style dropped,
    block tags -> line breaks, entities decoded (&copy; -> the U+00A9
    char), whitespace collapsed. Output compares the FULL extracted
    title and text against the oracle's SQL reconstruction — the
    strongest possible gate (no hashing on the Spark side at all)."""
    from pincspark.operators.html import html_to_text

    docs = table(spark, sf_dir, "documents")
    nl = F.lit("\n")
    html = docs.select(
        "doc_id",
        F.concat(
            F.lit("<!DOCTYPE html>"), nl,
            F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
            F.lit(" - "), F.col("source"), F.lit("</title>"), nl,
            F.lit("<script>var x = 1; // not content</script>"), nl,
            F.lit("<style>body { margin: 0; }</style>"), nl,
            F.lit("</head><body>"), nl,
            F.lit('<nav><a href="/home">Home</a> | <a href="/about">About</a></nav>'), nl,
            F.lit("<h1>Doc "), F.col("doc_id").cast("string"), F.lit("</h1>"), nl,
            F.lit("<p>"), F.col("text"), F.lit("</p>"), nl,
            F.lit("<footer>&copy; 2023 Example &amp; Co.</footer>"), nl,
            F.lit("</body></html>"),
        ).alias("html"),
    )
    ext = html.select("doc_id", html_to_text("html").alias("x"))
    return ext.select(
        "doc_id",
        F.col("x.title").alias("title"),
        F.col("x.text").alias("text"),
    )


ORACLE_Q74 = """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' - ' || source AS title,
       'Home | About' || chr(10) ||
       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
       trim(regexp_replace(text, '[ \t\n\r]+', ' ', 'g')) || chr(10) ||
       chr(169) || ' 2023 Example & Co.' AS text
FROM documents
"""


def q75_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user sketches over events: per event_type the k=256
    smallest 60-bit user-id hashes -> BIGINT-only cardinality estimate,
    PLUS an '__all__' row estimated from the MERGE of the per-type
    sketches alone (the persisted-sketch steady state: merging never
    rescans the events). Operators:
    `pincspark.operators.sketches.kmv_sketch/kmv_merge/kmv_estimate`."""
    from pincspark.operators.sketches import kmv_estimate, kmv_merge, kmv_sketch

    events = table(spark, sf_dir, "events")
    sk = kmv_sketch(events, ["event_type"], "user_id", k=256)
    per_type = kmv_estimate(sk, ["event_type"], k=256)
    merged = kmv_estimate(
        kmv_merge(sk, [], k=256).withColumn("event_type", F.lit("__all__")),
        ["event_type"],
        k=256,
    )
    return per_type.unionByName(merged)


def _q75_oracle() -> str:
    k = 256
    num = (k - 1) * (1 << 40)
    den = 1 << 20
    est = (
        f"CAST(CASE WHEN n_kept < {k} THEN n_kept "
        f"ELSE CAST({num} AS BIGINT) // greatest(kth // {den}, CAST(1 AS BIGINT)) "
        f"END AS BIGINT)"
    )
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
  WHERE user_id IS NOT NULL
), ranked AS (
  SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
), sk AS (
  SELECT event_type, h FROM ranked WHERE rn <= {k}
), gdistinct AS (
  SELECT DISTINCT h FROM sk
), granked AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM gdistinct
), allsk AS (
  SELECT event_type, h FROM sk
  UNION ALL
  SELECT '__all__' AS event_type, h FROM granked WHERE rn <= {k}
), agg AS (
  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS kth FROM allsk GROUP BY event_type
)
SELECT event_type,
       CAST(n_kept AS BIGINT) AS n_kept,
       kth AS kth_hash,
       {est} AS est_distinct
FROM agg
"""


ORACLE_Q75 = _q75_oracle()


def q76_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation estimates from persisted KMV sketches ALONE (Beyer et
    al. 2007): per return flag, the distinct-part overlap between lineitem
    shipped before vs since 1998-07-01, computed from the two k=64 sketch
    tables without rescanning either slice — union/intersection/difference
    cardinalities and a Jaccard in ppm, all BIGINT. Operator:
    `pincspark.operators.sketches.kmv_set_ops`."""
    from pincspark.operators.sketches import kmv_set_ops, kmv_sketch

    li = table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-07-01").cast("timestamp")
    a = kmv_sketch(
        li.filter(F.col("l_shipdate") < cut), ["l_returnflag"], "l_partkey", k=64
    )
    b = kmv_sketch(
        li.filter(F.col("l_shipdate") >= cut), ["l_returnflag"], "l_partkey", k=64
    )
    return kmv_set_ops(a, b, ["l_returnflag"], k=64)


def _q76_oracle() -> str:
    k = 64
    num = (k - 1) * (1 << 40)
    den = 1 << 20
    side = (
        "SELECT DISTINCT l_returnflag AS grp, "
        "CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h "
        "FROM lineitem WHERE l_partkey IS NOT NULL AND l_shipdate {cmp} TIMESTAMP '1998-07-01'"
    )
    return f"""
WITH ha AS ({side.format(cmp='<')}),
ra AS (
  SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM ha
), ska AS (
  SELECT grp, h FROM ra WHERE rn <= {k}
), hb AS ({side.format(cmp='>=')}),
rb AS (
  SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM hb
), skb AS (
  SELECT grp, h FROM rb WHERE rn <= {k}
), tagged AS (
  SELECT grp, h, 1 AS in_a, 0 AS in_b FROM ska
  UNION ALL
  SELECT grp, h, 0 AS in_a, 1 AS in_b FROM skb
), u AS (
  SELECT grp, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM tagged GROUP BY grp, h
), ranked AS (
  SELECT grp, h, in_a, in_b, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn
  FROM u
), kept AS (
  SELECT grp, h, in_a, in_b FROM ranked WHERE rn <= {k}
), agg AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         MAX(h) AS kth_hash,
         CAST(SUM(in_a * in_b) AS BIGINT) AS inter_in_k,
         CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS a_only_in_k,
         CAST(SUM((1 - in_a) * in_b) AS BIGINT) AS b_only_in_k
  FROM kept GROUP BY grp
), est AS (
  SELECT *,
         CAST(CASE WHEN n_kept < {k} THEN n_kept
              ELSE CAST({num} AS BIGINT) // greatest(kth_hash // {den}, CAST(1 AS BIGINT))
              END AS BIGINT) AS est_union
  FROM agg
)
SELECT grp AS l_returnflag, n_kept, kth_hash, est_union, inter_in_k,
       CAST(inter_in_k * est_union // n_kept AS BIGINT) AS est_intersection,
       CAST(a_only_in_k * est_union // n_kept AS BIGINT) AS est_a_only,
       CAST(b_only_in_k * est_union // n_kept AS BIGINT) AS est_b_only,
       CAST(inter_in_k * 1000000 // n_kept AS BIGINT) AS jaccard_ppm
FROM est
"""


ORACLE_Q76 = _q76_oracle()


def q83_kmv_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from counted KMV sketches alone (the
    optimizer-statistics use): per return flag, the size of
    (pre-1998H2 lineitem) JOIN (post) ON l_partkey, estimated from two
    k=64 sketches without performing the join —
    `pincspark.operators.sketches.kmv_join_size`."""
    from pincspark.operators.sketches import kmv_join_size, kmv_sketch

    li = table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-07-01").cast("timestamp")
    a = kmv_sketch(
        li.filter(F.col("l_shipdate") < cut),
        ["l_returnflag"], "l_partkey", k=64, with_counts=True,
    )
    b = kmv_sketch(
        li.filter(F.col("l_shipdate") >= cut),
        ["l_returnflag"], "l_partkey", k=64, with_counts=True,
    )
    return kmv_join_size(a, b, ["l_returnflag"], k=64)


def _q83_oracle() -> str:
    k = 64
    num = (k - 1) * (1 << 40)
    den = 1 << 20
    side = (
        "SELECT l_returnflag AS grp, "
        "CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h, "
        "CAST(COUNT(*) AS BIGINT) AS cnt "
        "FROM lineitem WHERE l_partkey IS NOT NULL AND l_shipdate {cmp} TIMESTAMP '1998-07-01' "
        "GROUP BY grp, h"
    )
    return f"""
WITH ca AS ({side.format(cmp='<')}),
ra AS (
  SELECT grp, h, cnt, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM ca
), ska AS (
  SELECT grp, h, cnt FROM ra WHERE rn <= {k}
), cb AS ({side.format(cmp='>=')}),
rb AS (
  SELECT grp, h, cnt, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM cb
), skb AS (
  SELECT grp, h, cnt FROM rb WHERE rn <= {k}
), tagged AS (
  SELECT grp, h, cnt AS ca, CAST(0 AS BIGINT) AS cb FROM ska
  UNION ALL
  SELECT grp, h, CAST(0 AS BIGINT) AS ca, cnt AS cb FROM skb
), u AS (
  SELECT grp, h, MAX(ca) AS ca, MAX(cb) AS cb FROM tagged GROUP BY grp, h
), ranked AS (
  SELECT grp, h, ca, cb, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rn FROM u
), kept AS (
  SELECT grp, h, ca, cb FROM ranked WHERE rn <= {k}
), agg AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         MAX(h) AS kth_hash,
         CAST(SUM(ca * cb) AS BIGINT) AS pair_sum
  FROM kept GROUP BY grp
), est AS (
  SELECT *,
         CAST(CASE WHEN n_kept < {k} THEN n_kept
              ELSE CAST({num} AS BIGINT) // greatest(kth_hash // {den}, CAST(1 AS BIGINT))
              END AS BIGINT) AS est_union
  FROM agg
)
SELECT grp AS l_returnflag, n_kept, kth_hash, est_union, pair_sum,
       CAST(pair_sum * est_union // n_kept AS BIGINT) AS est_join_size
FROM est
"""


ORACLE_Q83 = _q83_oracle()


def q84_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a mergeable bottom-k row sample (the sketch-family
    answer to percentiles): per event_type, p50/p90/p99 of `value` read
    from a k=128 bottom-k sample at deterministic ranks — verbatim data
    values, so nothing interpolates or drifts across engines.
    `pincspark.operators.sketches.bottomk_row_sample/sample_quantiles`."""
    from pincspark.operators.sketches import bottomk_row_sample, sample_quantiles

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_id").isNotNull() & F.col("value").isNotNull()
    )
    s = bottomk_row_sample(ev, ["event_type"], "event_id", ["value"], k=128)
    return sample_quantiles(s, ["event_type"], "value", [0.5, 0.9, 0.99])


def _q84_oracle() -> str:
    k = 128
    return f"""
WITH hashed AS (
  SELECT event_type,
         CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
         value
  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
), ranked AS (
  SELECT event_type, h, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM hashed
), sample AS (
  SELECT event_type, h, value FROM ranked WHERE rn <= {k}
), ordered AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, h) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM sample
), probs AS (
  SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(prob)
)
SELECT o.event_type, CAST(p.prob AS DOUBLE) AS prob, o.value AS q
FROM ordered o JOIN probs p
  ON o.r = greatest(1, CAST(ceil(p.prob * o.n) AS BIGINT))
"""


ORACLE_Q84 = _q84_oracle()


def q85_track_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIS track quality control (`pincspark.operators.geo.track_qc`):
    synthetic vessel fixes (deterministic from events, the q23 pattern),
    deduped to unique (vessel, ts), then per-vessel haversine hop,
    time delta, and a physically-possible-speed flag. The hop rounds to
    integer meters BEFORE the flag compares — both the meters and the
    flag are BIGINT-stable across engines (the q67 float discipline
    applied to trig)."""
    from pincspark.operators.geo import synthetic_fixes, track_qc

    fixes = synthetic_fixes(table(spark, sf_dir, "events"))
    out = track_qc(fixes, "mmsi", "ts", "latitude", "longitude", max_speed_mps=26)
    return out.select("mmsi", "ts", "dist_m", "dt_s", "speed_ok")


ORACLE_Q85 = """
WITH uniq AS (
  SELECT user_id AS mmsi, ts,
         100.5 + (value % 2.5) AS lon,
         1.0 + CAST(user_id % 21 AS DOUBLE) / 10.0 AS lat
  FROM (
    SELECT user_id, ts, value, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
    FROM events WHERE user_id IS NOT NULL
  ) t WHERE rn = 1
), lagged AS (
  SELECT mmsi, ts, lat, lon,
         LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
         LAG(ts) OVER w AS pts
  FROM uniq WINDOW w AS (PARTITION BY mmsi ORDER BY ts)
), hops AS (
  SELECT mmsi, ts,
         CAST(round(2.0 * 6371000.0 * asin(sqrt(
           sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
           + cos(radians(plat)) * cos(radians(lat))
             * sin(radians(lon - plon) / 2) * sin(radians(lon - plon) / 2)
         ))) AS BIGINT) AS dist_m,
         -- date_diff counts whole-second boundaries = Spark's
         -- unix_timestamp(ts) - unix_timestamp(pts) (epoch() keeps
         -- fractional seconds and would round on cast)
         CAST(date_diff('second', pts, ts) AS BIGINT) AS dt_s
  FROM lagged
)
SELECT mmsi, ts, dist_m, dt_s,
       CAST(CASE WHEN dist_m IS NULL
                 OR dist_m <= 26 * greatest(dt_s, 1) THEN 1 ELSE 0 END AS INTEGER)
         AS speed_ok
FROM hops
"""


def q86_voyage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maritime composition flagship (the AIS-domain analog of q54):
    fixes -> track QC (impossible hops dropped) -> hops RECOMPUTED on
    the cleaned track -> gap-based voyage segmentation (>6h = new
    voyage) -> per-voyage distance/duration/fix-count. Two keyed window
    passes + one aggregation, every emitted number BIGINT or timestamp
    (hop rounding safety re-measured for the post-filter hop set:
    nearest boundary gap 1.5e-4 m vs ~1e-7 m trig ulp)."""
    from pincspark.operators.geo import synthetic_fixes, track_qc
    from pyspark.sql import Window

    fixes = synthetic_fixes(table(spark, sf_dir, "events"))
    kept = (
        track_qc(fixes, "mmsi", "ts", "latitude", "longitude", max_speed_mps=26)
        .filter(F.col("speed_ok") == 1)
        .select("mmsi", "ts", "latitude", "longitude")
    )
    clean = track_qc(kept, "mmsi", "ts", "latitude", "longitude", max_speed_mps=26)
    is_new = (F.col("dt_s").isNull() | (F.col("dt_s") > 6 * 3600)).cast("int")
    wv = Window.partitionBy("mmsi").orderBy("ts")
    voyaged = clean.withColumn("__new", is_new).withColumn(
        "voyage_id", F.sum("__new").over(wv).cast("bigint")
    )
    return voyaged.groupBy("mmsi", "voyage_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fixes"),
        F.sum(F.when(F.col("__new") == 0, F.col("dist_m")).otherwise(0))
        .cast("bigint")
        .alias("dist_m_total"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).cast("bigint").alias("dur_s"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def _q86_oracle() -> str:
    hav = (
        "2.0*6371000.0*asin(sqrt("
        " sin(radians(lat-plat)/2)*sin(radians(lat-plat)/2)"
        " + cos(radians(plat))*cos(radians(lat))"
        "   *sin(radians(lon-plon)/2)*sin(radians(lon-plon)/2) ))"
    )
    return f"""
WITH uniq AS (
  SELECT user_id AS mmsi, ts,
         100.5 + (value % 2.5) AS lon,
         1.0 + CAST(user_id % 21 AS DOUBLE) / 10.0 AS lat
  FROM (
    SELECT user_id, ts, value, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
    FROM events WHERE user_id IS NOT NULL
  ) t WHERE rn = 1
), qc AS (
  SELECT mmsi, ts, lat, lon,
         CAST(round({hav}) AS BIGINT) AS dist_m,
         CAST(date_diff('second', pts, ts) AS BIGINT) AS dt_s
  FROM (
    SELECT mmsi, ts, lat, lon,
           LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
           LAG(ts) OVER w AS pts
    FROM uniq WINDOW w AS (PARTITION BY mmsi ORDER BY ts)
  )
), kept AS (
  SELECT mmsi, ts, lat, lon FROM qc
  WHERE dist_m IS NULL OR dist_m <= 26 * greatest(dt_s, 1)
), clean AS (
  SELECT mmsi, ts,
         CAST(round({hav}) AS BIGINT) AS dist_m,
         CAST(date_diff('second', pts, ts) AS BIGINT) AS dt_s
  FROM (
    SELECT mmsi, ts, lat, lon,
           LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
           LAG(ts) OVER w AS pts
    FROM kept WINDOW w AS (PARTITION BY mmsi ORDER BY ts)
  )
), voyaged AS (
  SELECT mmsi, ts, dist_m,
         CASE WHEN dt_s IS NULL OR dt_s > 21600 THEN 1 ELSE 0 END AS isnew,
         SUM(CASE WHEN dt_s IS NULL OR dt_s > 21600 THEN 1 ELSE 0 END)
           OVER (PARTITION BY mmsi ORDER BY ts) AS voyage_id
  FROM clean
)
SELECT mmsi, CAST(voyage_id AS BIGINT) AS voyage_id,
       CAST(COUNT(*) AS BIGINT) AS n_fixes,
       CAST(SUM(CASE WHEN isnew = 0 THEN dist_m ELSE 0 END) AS BIGINT)
         AS dist_m_total,
       CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS dur_s,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM voyaged GROUP BY mmsi, voyage_id
"""


ORACLE_Q86 = _q86_oracle()


def q87_compaction_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction ROW-IDENTITY gate (VERDICT r8 #3): fragment a copy of
    the documents table into 64 tiny parquet files in a scratch dir, run
    :func:`pincspark.operators.layout.compact_parquet` over it (the
    crash-safe tmp -> aside -> rename rewrite), and return the FULL
    read-back rows plus a ``compacted_ok`` literal asserting the file
    count actually shrank to the byte-derived target. The oracle is the
    original table + TRUE — so the driver's value hash certifies that a
    physical rewrite preserved every row and column bit-for-bit, and a
    compaction that loses/duplicates rows, perturbs a value, or fails to
    merge files goes RED. The scratch copy is rebuilt per call
    (idempotent; /tmp, never the shared testdata).

    Scratch is keyed by PID (ADVICE r9): the returned DataFrame reads the
    dir LAZILY, so a shared path let a concurrent invocation (bench + the
    correctness driver, or a parallel harness) rmtree/rename it between
    plan build and collection. Each call also sweeps leftovers — crash
    residue (``.__tmp__``/``.__old__``) for this pid and whole scratch
    trees belonging to dead pids — so /tmp never accumulates copies."""
    import math
    import os

    from pincspark.operators.layout import _parquet_files, compact_parquet
    from pincspark.scratch import pid_scratch

    scratch = pid_scratch(
        os.path.join("/tmp", "pincspark_compact"),
        os.path.basename(os.path.normpath(sf_dir)),
        suffixes=(".__tmp__", ".__old__"),  # compact_parquet crash residue
    )
    table(spark, sf_dir, "documents").repartition(64).write.parquet(scratch)
    stats = compact_parquet(spark, scratch, target_mb=128)
    n_target = max(1, math.ceil(stats["bytes_before"] / (128 * 1024 * 1024)))
    # Gate the INVARIANT (fragmentation merged, nothing stranded), not an
    # exact input file count — at a synthetic sf with <64 rows the
    # round-robin write produces fewer than 64 files with no defect
    # (ADVICE r9).
    ok = (
        stats["files_before"] > stats["files_after"]
        and stats["files_after"] <= n_target
        and len(_parquet_files(spark, scratch)) == stats["files_after"]
    )
    return spark.read.parquet(scratch).select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).withColumn("compacted_ok", F.lit(bool(ok)))


ORACLE_Q87 = """
SELECT doc_id, text, lang, source, n_chars,
       CAST(TRUE AS BOOLEAN) AS compacted_ok
FROM documents
"""


def q77_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + domain blocklist (the CCNet/RefinedWeb
    curation step that keys web-scale URL dedup): mint a deliberately
    messy URL per document (mixed-case hosts, default and explicit ports,
    tracking params, unsorted queries, fragments, trailing slashes —
    deterministic from doc_id, mirrored in the oracle), then normalize
    it, extract the registrable domain (incl. multi-label public
    suffixes), and flag blocklisted domains. The normalization itself
    (`pincspark.functions.url`) is pure column expressions; the oracle
    REIMPLEMENTS the contract independently in SQL, so the gate pins
    semantics, not an implementation."""
    from pincspark.functions.url import (
        domain_blocklist_filter,
        normalize_url,
        registered_domain,
        url_host,
    )

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ds = d.cast("string")
    scheme = F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    host = (
        F.when(d % 6 == 0, F.lit("Example.COM"))
        .when(d % 6 == 1, F.lit("news.Example.co.uk"))
        .when(d % 6 == 2, F.lit("WWW.Spam-Site.com"))
        .when(d % 6 == 3, F.lit("blog.example.org"))
        .when(d % 6 == 4, F.lit("tracker.Ads-Net.com"))
        .otherwise(F.lit("docs.example.com.au"))
    )
    port = (
        F.when((d % 5 == 0) & (d % 2 == 0), F.lit(":80"))
        .when((d % 5 == 0) & (d % 2 == 1), F.lit(":443"))
        .when(d % 5 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/Articles/"), ds, F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit(""))
    )
    query = (
        F.when(d % 4 == 0, F.concat(F.lit("?utm_source=feed&id="), ds))
        .when(d % 4 == 1, F.concat(F.lit("?id="), ds, F.lit("&utm_campaign=x")))
        .when(d % 4 == 2, F.lit("?b=2&a=1"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 7 == 0, F.lit("#section-2")).otherwise(F.lit(""))
    minted = docs.select(
        "doc_id",
        F.concat(scheme, F.lit("://"), host, port, path, query, frag).alias("url"),
    )
    out = minted.select(
        "doc_id",
        normalize_url(F.col("url")).alias("url_norm"),
        registered_domain(url_host(F.col("url"))).alias("domain"),
        "url",
    )
    return domain_blocklist_filter(
        out, "url", ["spam-site.com", "ads-net.com"], keep_col="kept"
    ).select("doc_id", "url_norm", "domain", "kept")


# The oracle's INDEPENDENT SQL reimplementation of the normalization
# contract (see pincspark/functions/url.py): regexes stay in the
# Java-regex/RE2 shared subset; list lambdas replace the Spark HOFs.
def q78_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 user-state history THROUGH THE INCREMENTAL PATH: events
    are deduped to unique (user_id, ts) (min event_id wins), split at
    2024-01-16; the prefix builds an SCD2 dimension
    (`pincspark.operators.scd.scd2_from_events`), the suffix merges into
    it (`scd2_merge` — affected keys replayed, untouched keys anti-joined
    through). The oracle rebuilds from ALL events in one pass, so the
    driver gate pins merge(prefix) == rebuild(all), late-arriving and
    boundary semantics included."""
    from pyspark.sql import Window

    from pincspark.operators.scd import scd2_from_events, scd2_merge

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id", "ts").orderBy("event_id")
    uniq = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", "event_type")
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    dim = scd2_from_events(
        uniq.filter(F.col("ts") < cut), ["user_id"], "ts", ["event_type"]
    )
    merged = scd2_merge(
        dim, uniq.filter(F.col("ts") >= cut), ["user_id"], "ts", ["event_type"]
    )
    return merged.select("user_id", "event_type", "eff_from", "eff_to")


ORACLE_Q78 = """
WITH uniq AS (
  SELECT user_id, ts, event_type FROM (
    SELECT user_id, ts, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
    FROM events WHERE user_id IS NOT NULL
  ) t WHERE rn = 1
), flagged AS (
  SELECT user_id, ts, event_type,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
              WHEN event_type IS NOT DISTINCT FROM
                   LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) THEN 0
              ELSE 1 END AS chg
  FROM uniq
), versions AS (
  SELECT user_id, event_type, ts AS eff_from FROM flagged WHERE chg = 1
)
SELECT user_id, event_type, eff_from,
       LEAD(eff_from) OVER (PARTITION BY user_id ORDER BY eff_from) AS eff_to
FROM versions
"""


def q79_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel per user
    (`pincspark.operators.behavior.funnel_steps`): one conditional
    aggregation, no self-joins (the naive N-way self-join funnel scans
    the fact table N times)."""
    from pincspark.operators.behavior import funnel_steps

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return funnel_steps(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])


ORACLE_Q79 = """
WITH m AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t1,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
)
SELECT user_id,
       CAST((CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) +
            (CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                  THEN 1 ELSE 0 END) +
            (CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                       AND t2 IS NOT NULL AND t2 > t1
                  THEN 1 ELSE 0 END) AS INTEGER) AS reached
FROM m
"""


def q80_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention
    (`pincspark.operators.behavior.cohort_retention`): users grouped by
    first-activity week; distinct active users per (cohort, weeks_since).
    The cohort assignment windows over the COLLAPSED distinct
    user-week table, never the raw events."""
    from pincspark.operators.behavior import cohort_retention

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return cohort_retention(ev, "user_id", "ts", period="week")


ORACLE_Q80 = """
WITH ep AS (
  -- DuckDB date_trunc('week') yields DATE; cast to TIMESTAMP to match
  -- Spark's timestamp-typed truncation
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS p
  FROM events WHERE user_id IS NOT NULL
), coh AS (
  SELECT user_id, p, MIN(p) OVER (PARTITION BY user_id) AS cohort FROM ep
)
SELECT cohort AS cohort_period,
       CAST((epoch(p) - epoch(cohort)) / 604800 AS BIGINT) AS periods_since,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active
FROM coh
GROUP BY cohort, CAST((epoch(p) - epoch(cohort)) / 604800 AS BIGINT)
"""


def q81_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs over the first 48 chars of the
    normalized text (the entity-resolution complement to the LSH family):
    prefix blocking + salted pair join + levenshtein verify
    (`pincspark.operators.dedup.fuzzy_dup_pairs`). Both engines run the
    identical native levenshtein."""
    from pincspark.functions.text import normalize_text
    from pincspark.operators.dedup import fuzzy_dup_pairs

    # Spread + stage the keyed projection ONCE: the triple-regexp
    # normalization runs over FULL document text — _spread unpins it from
    # the single parquet split (the q61 lesson; one core was eating all
    # 5000 docs' regex work), and the localCheckpoint stops Catalyst
    # inlining the expression into the scan filters of all three of the
    # operator's consumers (a-side, b-side, block census). 13.3 s ->
    # ~1.5 s at sf0.1. Narrow (id, 48-char head) rows persist.
    from pincspark.operators.dedup import _spread

    docs = stage(
        _spread(table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id", F.substring(normalize_text(F.col("text")), 1, 48).alias("head")
        ),
        "q81:heads",
        eager=False,
    )
    return fuzzy_dup_pairs(
        docs, "doc_id", "head", max_dist=3, prefix_len=6, max_block_size=4096
    )


def _q81_oracle() -> str:
    norm = _SQL_NORM.format(c="text")
    return f"""
WITH keyed AS (
  SELECT doc_id, lower(trim(substring({norm}, 1, 48))) AS k FROM documents
), ok_len AS (
  SELECT doc_id, k, substring(k, 1, 6) AS b FROM keyed WHERE strlen(k) >= 6
), sized AS (
  SELECT b AS b_ok FROM ok_len GROUP BY b HAVING COUNT(*) <= 4096
), blocked AS (
  SELECT o.doc_id AS doc_id, o.k AS k, o.b AS b
  FROM ok_len o JOIN sized s ON o.b = s.b_ok
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.k, b.k) AS INTEGER) AS dist
FROM blocked a JOIN blocked b
  ON a.b = b.b AND a.doc_id < b.doc_id
     AND abs(strlen(a.k) - strlen(b.k)) <= 3
WHERE levenshtein(a.k, b.k) <= 3
"""


ORACLE_Q81 = _q81_oracle()


def q82_constraint_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint census over lineitem (the deequ-style
    pre-promotion gate, `pincspark.operators.quality`): five row-local
    rules folded into ONE scan, plus the two shapes that need more — a
    uniqueness agg on (orderkey, linenumber) and a referential anti-join
    against orders. Output (rule, violations), one row per rule."""
    from pincspark.operators.quality import (
        constraint_violations,
        duplicate_key_count,
        orphan_count,
    )

    li = table(spark, sf_dir, "lineitem")
    rowlocal = constraint_violations(
        li,
        {
            "quantity_range": ~F.col("l_quantity").between(1, 50)
            | F.col("l_quantity").isNull(),
            "discount_range": ~F.col("l_discount").between(0.0, 0.1)
            | F.col("l_discount").isNull(),
            "price_positive": (F.col("l_extendedprice") <= 0)
            | F.col("l_extendedprice").isNull(),
            "shipdate_null": F.col("l_shipdate").isNull(),
            "returnflag_domain": ~F.col("l_returnflag").isin("A", "N", "R")
            | F.col("l_returnflag").isNull(),
        },
    )
    dup = duplicate_key_count(li, ["l_orderkey", "l_linenumber"])
    orph = orphan_count(li, table(spark, sf_dir, "orders"), "l_orderkey", "o_orderkey")
    return rowlocal.unionByName(dup).unionByName(orph)


ORACLE_Q82 = """
WITH rowlocal AS (
  SELECT
    CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
             THEN 1 ELSE 0 END) AS BIGINT) AS quantity_range,
    CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.1
             THEN 1 ELSE 0 END) AS BIGINT) AS discount_range,
    CAST(SUM(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
             THEN 1 ELSE 0 END) AS BIGINT) AS price_positive,
    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS shipdate_null,
    CAST(SUM(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R')
             THEN 1 ELSE 0 END) AS BIGINT) AS returnflag_domain
  FROM lineitem
), dup AS (
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS violations FROM (
    SELECT COUNT(*) AS n FROM lineitem
    GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
  ) t
), orph AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS violations
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL
)
SELECT 'quantity_range' AS rule, quantity_range AS violations FROM rowlocal
UNION ALL SELECT 'discount_range', discount_range FROM rowlocal
UNION ALL SELECT 'price_positive', price_positive FROM rowlocal
UNION ALL SELECT 'shipdate_null', shipdate_null FROM rowlocal
UNION ALL SELECT 'returnflag_domain', returnflag_domain FROM rowlocal
UNION ALL SELECT 'duplicate_key', violations FROM dup
UNION ALL SELECT 'orphan_key', violations FROM orph
"""


ORACLE_Q77 = """
WITH minted AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END) || '://' ||
         (CASE doc_id % 6 WHEN 0 THEN 'Example.COM'
                          WHEN 1 THEN 'news.Example.co.uk'
                          WHEN 2 THEN 'WWW.Spam-Site.com'
                          WHEN 3 THEN 'blog.example.org'
                          WHEN 4 THEN 'tracker.Ads-Net.com'
                          ELSE 'docs.example.com.au' END) ||
         (CASE WHEN doc_id % 5 = 0 AND doc_id % 2 = 0 THEN ':80'
               WHEN doc_id % 5 = 0 AND doc_id % 2 = 1 THEN ':443'
               WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END) ||
         '/Articles/' || CAST(doc_id AS VARCHAR) ||
         (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
         (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 4 = 1 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
               WHEN doc_id % 4 = 2 THEN '?b=2&a=1' ELSE '' END) ||
         (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
         regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS rest
  FROM minted
), normed AS (
  SELECT doc_id, scheme,
         regexp_replace(
           CASE WHEN scheme = 'http'  THEN regexp_replace(hostport, ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                ELSE hostport END, '^www\\.', '') AS host_norm,
         regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''), '^www\\.', '') AS host,
         regexp_replace(regexp_extract(rest, '^([^?#]*)', 1), '/+$', '') AS path,
         array_to_string(
           list_sort(list_filter(string_split(regexp_extract(rest, '\\?([^#]*)', 1), '&'),
             p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)(=.*)?$'))),
           '&') AS query
  FROM parts
), dom AS (
  SELECT doc_id, scheme, host_norm, path, query, host,
         string_split(host, '.') AS labels,
         len(string_split(host, '.')) AS n
  FROM normed
), named AS (
  SELECT doc_id, scheme, host_norm, path, query,
         CASE WHEN n <= 2 THEN host
              WHEN n >= 3 AND (list_extract(labels, n - 1) || '.' || list_extract(labels, n))
                   IN ('co.uk', 'org.uk', 'ac.uk', 'com.au', 'co.jp', 'com.br')
              THEN list_extract(labels, n - 2) || '.' || list_extract(labels, n - 1)
                   || '.' || list_extract(labels, n)
              ELSE list_extract(labels, n - 1) || '.' || list_extract(labels, n)
         END AS domain
  FROM dom
)
SELECT doc_id,
       scheme || '://' || host_norm || path ||
         (CASE WHEN query <> '' THEN '?' || query ELSE '' END) AS url_norm,
       domain,
       CAST(domain NOT IN ('spam-site.com', 'ads-net.com') AS INTEGER) AS kept
FROM named
"""


def q89_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the RefinedWeb/CCNet curation step that
    stops one mirror-heavy site from dominating a crawl): mint each
    document's host deterministically (the q77 minting, same doc_id % 6
    mapping), extract the REGISTRABLE domain with the real
    `pincspark.functions.url.registered_domain` (multi-label public
    suffixes included), and keep at most 25 docs per domain — the 25
    smallest md5(salt:doc_id) hashes, ties by doc_id, so the kept set is
    reproducible on any cluster size/partitioning/corpus order.

    Scale shape: domains are Zipf-skewed by nature, so the cap runs
    through `stratified_fixed(presplit=8)` — the two-phase exact top-K
    whose phase 1 bounds any single task's sort to ~1/8 of the hottest
    domain (see the operator docstring for the exactness argument). The
    oracle reimplements the minting->domain mapping as a literal CASE and
    the cap as one ROW_NUMBER, pinning the semantics independently of
    both the url functions and the two-phase rewrite."""
    from pincspark.functions.url import registered_domain
    from pincspark.operators.sampling import stratified_fixed

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = (
        F.when(d % 6 == 0, F.lit("Example.COM"))
        .when(d % 6 == 1, F.lit("news.Example.co.uk"))
        .when(d % 6 == 2, F.lit("WWW.Spam-Site.com"))
        .when(d % 6 == 3, F.lit("blog.example.org"))
        .when(d % 6 == 4, F.lit("tracker.Ads-Net.com"))
        .otherwise(F.lit("docs.example.com.au"))
    )
    minted = docs.select(
        "doc_id", registered_domain(F.lower(host)).alias("domain")
    )
    out = stratified_fixed(
        minted, "doc_id", ("domain",), 25, salt="domcap",
        rank_col="cap_rank", presplit=8,
    )
    return out.select(
        "doc_id", "domain", F.col("cap_rank").cast("int").alias("cap_rank")
    )


def _q89_oracle() -> str:
    from pincspark.operators.sampling import sample_hash_sql

    h = sample_hash_sql("doc_id", "domcap")
    return f"""
SELECT doc_id, domain, CAST(rn AS INTEGER) AS cap_rank
FROM (
  SELECT doc_id, domain,
         row_number() OVER (PARTITION BY domain ORDER BY {h} ASC, doc_id ASC) AS rn
  FROM (
    SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'example.com'
             WHEN 1 THEN 'example.co.uk'
             WHEN 2 THEN 'spam-site.com'
             WHEN 3 THEN 'example.org'
             WHEN 4 THEN 'ads-net.com'
             ELSE 'example.com.au'
           END AS domain
    FROM documents
  )
)
WHERE rn <= 25
"""


ORACLE_Q89 = _q89_oracle()


def q90_link_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph authority prior (PageRank) as a corpus-quality feature:
    mint a deterministic citation graph over the documents (each doc
    cites doc_id div 2 and doc_id div 3; self-loops dropped, duplicate
    edges kept as a multiset) and run THREE power iterations at damping
    85/100 through `pincspark.operators.graph.pagerank_int` — entirely in
    BIGINT micro-units with truncating division, so the DuckDB oracle
    (the same three iterations unrolled as CTEs) reproduces every rank
    bit-for-bit. A floating-point formulation would sum in shuffle order
    and go driver-red on the last ulp (the q59 class); the integer form
    makes an ITERATIVE graph algorithm value-hash gateable."""
    from pincspark.operators.graph import pagerank_int

    docs = table(spark, sf_dir, "documents").select("doc_id")
    e1 = docs.select(
        F.col("doc_id").alias("src"), F.expr("doc_id div 2").alias("dst")
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"), F.expr("doc_id div 3").alias("dst")
    )
    edges = e1.union(e2).filter(F.col("src") != F.col("dst"))
    ranks = pagerank_int(edges, iters=3)
    return ranks.select(
        F.col("node").alias("doc_id"), F.col("rank").alias("rank_micro")
    )


def _q90_oracle() -> str:
    from pincspark.operators.graph import SCALE

    base = f"{15 * SCALE} // (100 * n.n)"
    return f"""
WITH e AS (
  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents WHERE doc_id // 2 <> doc_id
  UNION ALL
  SELECT doc_id AS src, doc_id // 3 AS dst FROM documents WHERE doc_id // 3 <> doc_id
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
  )
), n AS (SELECT COUNT(*) AS n FROM nodes),
od AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
r0 AS (
  SELECT node, {SCALE} // n.n AS rank FROM nodes CROSS JOIN n
),
c1 AS (
  SELECT e.dst AS node, SUM(r0.rank // od.out_deg) AS inflow
  FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src GROUP BY e.dst
),
r1 AS (
  SELECT nodes.node,
         CAST({base} + (85 * COALESCE(c1.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM nodes CROSS JOIN n LEFT JOIN c1 ON nodes.node = c1.node
),
c2 AS (
  SELECT e.dst AS node, SUM(r1.rank // od.out_deg) AS inflow
  FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src GROUP BY e.dst
),
r2 AS (
  SELECT nodes.node,
         CAST({base} + (85 * COALESCE(c2.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM nodes CROSS JOIN n LEFT JOIN c2 ON nodes.node = c2.node
),
c3 AS (
  SELECT e.dst AS node, SUM(r2.rank // od.out_deg) AS inflow
  FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src GROUP BY e.dst
),
r3 AS (
  SELECT nodes.node,
         CAST({base} + (85 * COALESCE(c3.inflow, 0)) // 100 AS BIGINT) AS rank
  FROM nodes CROSS JOIN n LEFT JOIN c3 ON nodes.node = c3.node
)
SELECT node AS doc_id, rank AS rank_micro FROM r3
"""


ORACLE_Q90 = _q90_oracle()


def q64_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-dedup REWRITE (Lee et al. 2022 ExactSubstr removal):
    the operator that ACTS on q59's census — every duplicated 8-token span
    is removed corpus-wide except its first (doc_id, position) occurrence,
    and each document's surviving token stream is re-emitted. One span-hash
    window + position anti-join; linear in total tokens, fully JVM-side.
    Output is all-BIGINT + string (hash-stable by construction)."""
    from pincspark.operators.dedup import remove_duplicate_spans

    docs = table(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, "doc_id", "text", n=8).select(
        "doc_id", "clean_text", "n_tokens", "n_removed"
    )


def _q64_oracle() -> str:
    # Version-robust forms throughout (the q59 lesson list): explicit
    # list_slice / list_extract (no bracket sugar), lateral
    # unnest(generate_series(...)) (no zipped parallel unnest), DISTINCT in
    # its own subquery over a plain unnest, ROW_NUMBER ordered by a unique
    # key, and every output column CAST to BIGINT (COUNT is BIGINT but the
    # arithmetic columns are cast anyway — no HUGEINT may reach the hashed
    # projection).
    return f"""
WITH toks_t AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM documents
), short_t AS (
  SELECT doc_id, array_to_string(toks, ' ') AS clean_text,
         CAST(len(toks) AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS n_removed
  FROM toks_t WHERE len(toks) < 8
), long_t AS (
  SELECT doc_id, toks, len(toks) AS nt FROM toks_t WHERE len(toks) >= 8
), occ AS (
  SELECT doc_id, i - 1 AS p,
         CAST(('0x' || substring(md5(array_to_string(list_slice(toks, i, i + 7), ' ')), 1, 15)) AS BIGINT) AS h
  FROM long_t, unnest(generate_series(1, nt - 7)) AS u(i)
), marked AS (
  SELECT doc_id, p,
         COUNT(*) OVER (PARTITION BY h) AS c,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
  FROM occ
), cov AS (
  SELECT DISTINCT doc_id, pos FROM (
    SELECT doc_id, unnest(generate_series(p, p + 7)) AS pos
    FROM marked WHERE c > 1 AND rn > 1
  ) t
), tok AS (
  SELECT doc_id, i - 1 AS pos, list_extract(toks, i) AS tok
  FROM long_t, unnest(generate_series(1, nt)) AS u(i)
), kept AS (
  SELECT t.doc_id AS doc_id, t.pos AS pos, t.tok AS tok
  FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.doc_id IS NULL
), reb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id AS doc_id, COALESCE(r.clean_text, '') AS clean_text,
       CAST(l.nt AS BIGINT) AS n_tokens,
       CAST(l.nt - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
FROM long_t l LEFT JOIN reb r ON l.doc_id = r.doc_id
UNION ALL
SELECT doc_id, clean_text, n_tokens, n_removed FROM short_t
"""


ORACLE_Q64 = _q64_oracle()


def q29_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (beyond the reference's flat groupBys): quantity
    and revenue totals at (returnflag, linestatus), (returnflag), and grand
    levels, with explicit grouping flags for unambiguous hashing."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec2("l_quantity")).alias("_q"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("l_returnflag").alias("g_flag"),
            F.grouping("l_linestatus").alias("g_status"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            F.col("_q").cast("double").alias("sum_qty"),
            "n_rows",
            F.col("g_flag").cast("int").alias("g_flag"),
            F.col("g_status").cast("int").alias("g_status"),
        )
    )


ORACLE_Q29 = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS {D2})) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q30_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts and totals per priority spread across status
    columns (Spark pivot; oracle uses FILTERed aggregates)."""
    orders = table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec2("o_totalprice")).alias("total"),
        )
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("O_n"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F_n"), F.lit(0)).alias("n_finished"),
        F.coalesce(F.col("P_n"), F.lit(0)).alias("n_pending"),
        F.coalesce(F.col("O_total"), F.lit(0).cast("decimal(28,2)")).cast("double").alias("total_open"),
        F.coalesce(F.col("F_total"), F.lit(0).cast("decimal(28,2)")).cast("double").alias("total_finished"),
        F.coalesce(F.col("P_total"), F.lit(0).cast("decimal(28,2)")).cast("double").alias("total_pending"),
    )


ORACLE_Q30 = f"""
SELECT o_orderpriority,
       COUNT(*) FILTER (o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (o_orderstatus = 'F') AS n_finished,
       COUNT(*) FILTER (o_orderstatus = 'P') AS n_pending,
       CAST(COALESCE(SUM(CAST(o_totalprice AS {D2})) FILTER (o_orderstatus = 'O'), 0) AS DOUBLE) AS total_open,
       CAST(COALESCE(SUM(CAST(o_totalprice AS {D2})) FILTER (o_orderstatus = 'F'), 0) AS DOUBLE) AS total_finished,
       CAST(COALESCE(SUM(CAST(o_totalprice AS {D2})) FILTER (o_orderstatus = 'P'), 0) AS DOUBLE) AS total_pending
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# q49: the type-8 DAC1/FID31 weather report as pure SQL (P11 oracle twin)
# --------------------------------------------------------------------------

# Weather payloads: the golden-corpus sentence plus two synthesized reports
# (southern/western hemisphere with negative temperatures; boundary/sentinel
# values on every field), all round-tripped against the Python kernel in
# tests/test_pipeline.py.
WEATHER_PAYLOADS = [
    "805GdVh0GjuoMp2?>h0AP@=UdB06EuOwgrBGwnSwe7wvlOwwsAwwnSGmwvh0",
    "839Lg000Gwohb721=6=vwKjkPkQeOR<NTCwp6;T8GjP=TD5jHL65jiRKEN@0",
    "876qich0Gjuqw02N=3p7Wt3wP1wp2001Owwt003wwwwvl00?s?wwP3wwowP0",
]

# Every field of the layout table's DAC1/FID31 fork, in layout order: dac,
# fid, the /60000 lon/lat (not the position report's /600000) and the 35
# integer met-hydro fields == decode_type8 (families.py) ==
# ais_parser.py:143-221 (incl. the reference's quirk of decoding
# avgWindSpeed/windGust as SIGNED 7-bit).
_WEATHER_FIELDS = next(
    [spec[0] for spec in specs]
    for family, _, _, _, specs in VEC_ENTRIES
    if family == "bin_broadcast" and any(spec[0] == "airTemperature" for spec in specs)
)
_Q49_COLS = [*_HEADER, *[(f, _field(f"bin_broadcast.{f}")) for f in _WEATHER_FIELDS]]

_POS_ACC_0 = "an unaugmented GNSS fix with accuracy > 10m"
_POS_ACC_1 = "a DGPS-quality fix with an accuracy of < 10ms"


def q49_weather_decode_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 as pure SQL: the full DAC1/FID31 met-hydro report — the widest
    decoder in the reference (ais_parser.py:143-221) — as bit-field column
    expressions generated from the kernel's layout table over the
    armor-value array, plus the five enum description strings (P22/P23) and
    the positionAccuracy conditional from the same enum tables the Python
    kernel uses. No Python at run time; the decoded columns of the Spark
    frame and the oracle are both generated from one column list."""
    from pincspark.functions.enums import WEATHER_DESCS, lookup

    out = _decode_frame(spark, WEATHER_PAYLOADS, _Q49_COLS)
    out = out.withColumn(
        "positionAccuracyDesc",
        F.when(F.col("positionAccuracy") == 0, F.lit(_POS_ACC_0)).otherwise(
            F.lit(_POS_ACC_1)
        ),
    )
    for code_col, enum_name, desc_col in WEATHER_DESCS:
        out = out.withColumn(desc_col, lookup(F.col(code_col), enum_name))
    return out


def _q49_oracle() -> str:
    from pincspark.functions.enums import WEATHER_DESCS, lookup_sql

    descs = ",\n       ".join(
        f"{lookup_sql(enum_name, code_col)} AS {desc_col}"
        for code_col, enum_name, desc_col in WEATHER_DESCS
    )
    return f"""
SELECT *,
       CASE WHEN positionAccuracy = 0 THEN '{_POS_ACC_0}'
            ELSE '{_POS_ACC_1}' END AS positionAccuracyDesc,
       {descs}
FROM ({_decode_oracle(WEATHER_PAYLOADS, _Q49_COLS)}) decoded
"""


ORACLE_Q49 = _q49_oracle()


# --------------------------------------------------------------------------
# q50: the type-6 DAC533 vendor decode + egress normalizer (P10/D7 twin)
# --------------------------------------------------------------------------

# DAC533 payloads: golden-corpus FID4 (buoy flags, 144 bits) and FID1
# (light-beacon volts, 138 bits), plus two synthesized FID2 renewable-energy
# lantern reports — one full (138 bits) and one truncated at 120 bits to
# exercise the reference's guarded-optional zero-fill
# (ais_parser.py:266-293 `if len(binaryString) >= N else 0`).
TYPE6_533_PAYLOADS = [
    "6>m><PH000clQDB?AA`<P@0P",  # FID4, golden
    "6>m>=9D000clQD528=00W<0",  # FID1, golden
    "6>jHC640W=i4QD9wWdhIrnL",  # FID2 full, synthesized
    "6>jHC6H0W=i:QD8j5PI>",  # FID2 truncated, synthesized
]


def q50_type6_egress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 + the egress normalizer as one oracled query: decode the DAC533
    vendor payloads through the real kernel and project them with
    ``egress.type6_533_table`` into the pinned 37-column fact layout
    (ais_egressServerCH.py:167), including the BY-NAME remapping that
    replaces the reference's positional ``data_transform``
    (ais_egressServerCH.py:23-65; divergence D7: FID2 lantern fields get 0,
    not a positional mis-slot). The oracle re-derives every column with
    independent SQL bit arithmetic."""
    from pincspark.decode.kernel import decode_ais
    from pincspark.egress import type6_533_table

    df = spark.createDataFrame(
        [(1673222400 + i, p) for i, p in enumerate(TYPE6_533_PAYLOADS)],
        "ts BIGINT, payload STRING",
    )
    return type6_533_table(decode_ais(df))


def _q50_oracle() -> str:
    from pincspark.decode.kernel import bitfield_sql
    from pincspark.functions.enums import lookup_sql

    vals = ",\n  ".join(
        f"({1673222400 + i}, '{p}')" for i, p in enumerate(TYPE6_533_PAYLOADS)
    )
    b = lambda s, n: bitfield_sql("payload", s, n)
    opt = lambda s, n, minb: (
        f"(CASE WHEN length(payload) * 6 >= {minb} THEN {b(s, n)} ELSE 0 END)"
    )
    fid = b(82, 6)

    def volt(f1_span, f2_span, f4_span, f1_scale, f2_scale, f4_scale):
        # double multiplication on BOTH engines (a DuckDB decimal literal
        # would multiply exactly and round differently than IEEE)
        arms = []
        for f, (s, n), sc in ((1, f1_span, f1_scale), (2, f2_span, f2_scale), (4, f4_span, f4_scale)):
            arms.append(
                f"WHEN {fid} = {f} THEN CAST({b(s, n)} AS DOUBLE) * CAST({sc} AS DOUBLE)"
            )
        return "(CASE " + " ".join(arms) + " END)"

    # fid-dependent span for the shared telemetry fields
    def shared(f1, f24):
        return f"(CASE WHEN {fid} = 1 THEN {opt(*f1)} ELSE {opt(*f24)} END)"

    def fid4_flag(s, minb):
        return f"(CASE WHEN {fid} = 4 THEN {opt(s, 1, minb)} ELSE 0 END)"

    buoy_flags = ",\n       ".join(
        f"CAST({fid4_flag(128 + i, 129 + i)} AS INTEGER) AS {name}"
        for i, name in enumerate(
            (
                "buoy_temp", "buoy_force_off", "buoy_islight",
                "buoy_errled_short", "buoy_errled_open", "buoy_errled_voltlow",
                "buoy_errled_vinlow", "buoy_errled_power", "buoy_adjmaxpower",
                "buoy_sensor_interrupt", "buoy_solarcharging",
            )
        )
    )
    return f"""
WITH raw(ts, payload) AS (VALUES
  {vals}
)
SELECT ts,
       CAST({b(0, 6)} AS INTEGER) AS messageType,
       {lookup_sql("message_type", b(0, 6))} AS messageTypeDesc,
       CAST({b(6, 2)} AS INTEGER) AS "repeat",
       {b(8, 30)} AS mmsi,
       CAST({b(38, 2)} AS INTEGER) AS seqno,
       {b(40, 30)} AS dest_mmsi,
       CAST({b(70, 1)} AS INTEGER) AS retransmit,
       CAST({b(72, 10)} AS INTEGER) AS dac,
       CAST({fid} AS INTEGER) AS fid,
       {volt((88, 10), (88, 9), (88, 9), 0.05, 0.1, 0.05)} AS volt_int,
       {volt((98, 10), (97, 9), (97, 9), 0.05, 0.1, 0.05)} AS volt_ex1,
       {volt((108, 10), (106, 9), (106, 9), 0.05, 0.1, 0.2)} AS volt_ex2,
       CAST({shared((131, 1, 132), (115, 1, 116))} AS INTEGER) AS off_pos,
       CAST({shared((128, 2, 130), (116, 2, 118))} AS INTEGER) AS ambient,
       CAST({opt(118, 2, 120)} AS INTEGER) AS racon,
       CAST({opt(120, 2, 122)} AS INTEGER) AS light,
       CAST({opt(122, 1, 123)} AS INTEGER) AS health,
       CAST({opt(123, 1, 124)} AS INTEGER) AS beat,
       CAST({fid4_flag(124, 125)} AS INTEGER) AS alarm_active,
       CAST((CASE WHEN {fid} = 4 THEN {opt(125, 1, 126)}
                  WHEN {fid} = 1 THEN {opt(124, 2, 126)}
                  ELSE 0 END) AS INTEGER) AS buoy_led_power,
       CAST((CASE WHEN {fid} = 4 THEN {opt(126, 1, 127)}
                  WHEN {fid} = 1 THEN {opt(126, 2, 128)}
                  ELSE 0 END) AS INTEGER) AS buoy_low_vin,
       CAST((CASE WHEN {fid} = 4 THEN {opt(127, 1, 128)}
                  WHEN {fid} = 1 THEN {opt(130, 1, 131)}
                  ELSE 0 END) AS INTEGER) AS buoy_photocell,
       {buoy_flags}
FROM raw
"""


ORACLE_Q50 = _q50_oracle()


def q96_encounters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vessel pair-proximity screening (`pincspark.operators.geo.
    encounters`): the same deterministic fixes as q85's track QC, but
    asking the vessel-vs-VESSEL question the reference's zone machinery
    stops short of — which pairs of distinct vessels came within 5 km of
    each other inside the same hour, how often, and how close. The
    all-pairs self-join is replaced by a (bucket, grid-cell) equi-join
    with a bounded 3x3 neighbor explode on one side; the distance filter
    compares the ROUNDED BIGINT haversine (q85's float discipline), so
    every emitted column is BIGINT and value-hash gateable."""
    from pincspark.operators.geo import encounters, synthetic_fixes

    fixes = synthetic_fixes(table(spark, sf_dir, "events"))
    return encounters(
        fixes, key="mmsi", ts_col="ts", lat_col="latitude",
        lon_col="longitude", radius_m=5000, bucket_s=3600, cell_deg=0.05,
    )


# The oracle mirrors every stage: q85's uniq fixes, the first-fix-per-
# (vessel, hour) window, the identical double divide + floor grid cells,
# the 3x3 neighbor offsets as a VALUES cross join (bounded 9x, the same
# expansion the Spark side does with explode), and the rounded-BIGINT
# haversine threshold. epoch() keeps fractional seconds in DuckDB, so the
# bucket floors BEFORE casting (Spark's unix_timestamp truncates).
ORACLE_Q96 = """
WITH uniq AS (
  SELECT user_id AS mmsi, ts,
         100.5 + (value % 2.5) AS lon,
         1.0 + CAST(user_id % 21 AS DOUBLE) / 10.0 AS lat
  FROM (
    SELECT user_id, ts, value, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
    FROM events WHERE user_id IS NOT NULL
  ) t WHERE rn = 1
), bucketed AS (
  SELECT mmsi, ts, lat, lon,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS bkt
  FROM uniq
), pos AS (
  SELECT mmsi, bkt, lat, lon,
         CAST(floor(lon / 0.05) AS BIGINT) AS cx,
         CAST(floor(lat / 0.05) AS BIGINT) AS cy
  FROM (
    SELECT mmsi, bkt, lat, lon,
           ROW_NUMBER() OVER (PARTITION BY mmsi, bkt ORDER BY ts) AS rn
    FROM bucketed
  ) t WHERE rn = 1
), offs AS (SELECT * FROM (VALUES (-1), (0), (1)) o(d)),
cand AS (
  SELECT a.mmsi AS mmsi_a, b.mmsi AS mmsi_b, a.bkt,
         CAST(round(2.0 * 6371000.0 * asin(sqrt(
           sin(radians(b.lat - a.lat) / 2) * sin(radians(b.lat - a.lat) / 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * sin(radians(b.lon - a.lon) / 2)
             * sin(radians(b.lon - a.lon) / 2)
         ))) AS BIGINT) AS dist_m
  FROM pos a
  CROSS JOIN offs ox CROSS JOIN offs oy
  JOIN pos b
    ON a.bkt = b.bkt
   AND a.cx + ox.d = b.cx
   AND a.cy + oy.d = b.cy
   AND a.mmsi < b.mmsi
)
SELECT mmsi_a, mmsi_b,
       COUNT(*) AS n_close,
       MIN(dist_m) AS min_dist_m,
       MIN(bkt) AS first_bkt,
       MAX(bkt) AS last_bkt
FROM cand
WHERE dist_m <= 5000
GROUP BY mmsi_a, mmsi_b
"""


def q97_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle participation (`pincspark.operators.graph.
    triangle_count`) over the q90 citation graph densified with sibling
    links (doc_id -> doc_id - 1): the community-density / link-farm
    signal next to q90's PageRank authority prior. Degree-ordered
    orientation counts every triangle exactly once at its lowest-rank
    apex, so the per-node counts are exact BIGINTs an ANSI-SQL oracle
    reproduces bit-for-bit — and the orientation is what bounds the
    wedge join's fan-out at 100 TB (out-degree O(sqrt(m)) instead of a
    celebrity node's full neighborhood squared)."""
    from pincspark.operators.graph import triangle_count

    docs = table(spark, sf_dir, "documents").select("doc_id")
    e1 = docs.select(
        F.col("doc_id").alias("src"), F.expr("doc_id div 2").alias("dst")
    )
    e2 = docs.select(
        F.col("doc_id").alias("src"), F.expr("doc_id div 3").alias("dst")
    )
    e3 = docs.filter(F.col("doc_id") >= 1).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    edges = e1.union(e2).union(e3).filter(F.col("src") != F.col("dst"))
    out = triangle_count(edges)
    return out.select(F.col("node").alias("doc_id"), "n_tri")


ORACLE_Q97 = """
WITH raw AS (
  SELECT doc_id AS s, doc_id // 2 AS d FROM documents WHERE doc_id // 2 <> doc_id
  UNION ALL
  SELECT doc_id AS s, doc_id // 3 AS d FROM documents WHERE doc_id // 3 <> doc_id
  UNION ALL
  SELECT doc_id AS s, doc_id - 1 AS d FROM documents WHERE doc_id >= 1
), und AS (
  SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM raw WHERE s <> d
), deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
), oriented AS (
  SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
              THEN u ELSE v END AS a,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
              THEN v ELSE u END AS b,
         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
              THEN dv.deg ELSE du.deg END AS bdeg
  FROM und
  JOIN deg du ON und.u = du.node
  JOIN deg dv ON und.v = dv.node
), tri AS (
  SELECT e1.a AS a, e1.b AS x, e2.b AS y
  FROM oriented e1
  JOIN oriented e2
    ON e1.a = e2.a
   AND ((e1.bdeg < e2.bdeg) OR (e1.bdeg = e2.bdeg AND e1.b < e2.b))
  JOIN oriented e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT node AS doc_id, COUNT(*) AS n_tri FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT x FROM tri
  UNION ALL SELECT y FROM tri
) GROUP BY node
"""


def q98_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-frequent tokens (`pincspark.operators.sketches.
    frequent_items`): every lowercase whitespace token holding >= 1/30 of
    the corpus's token mass, with its exact count — the frequency-sketch
    tier next to the KMV distinct tier (q75/q83). Candidates come from a
    per-partition Misra-Gries summary (bounded state, zero shuffle,
    mergeable-summaries prune) whose capacity-30 guarantee covers the
    1/30 support; an exact broadcast-semi recount makes the output
    provably identical to the plain GROUP BY ... HAVING the oracle runs
    — the cut is integer cross-multiplication, no float ceil."""
    from pincspark.operators.sketches import frequent_items

    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    return frequent_items(toks, "token", 1, 30, capacity=30)


ORACLE_Q98 = """
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
), t AS (
  SELECT token FROM toks WHERE token <> ''
)
SELECT token, COUNT(*) AS cnt
FROM t
GROUP BY token
HAVING COUNT(*) * 30 >= (SELECT COUNT(*) FROM t)
"""


def q99_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed total ordering (`pincspark.operators.order.global_rank`):
    every order ranked by price (desc, orderkey tie-break) plus its decile
    bucket — the curriculum-ordering / sorted-export primitive. The naive
    Spark form, `row_number() OVER (ORDER BY ...)`, plans a SINGLE-partition
    window (the whole table through one task — the 100-TB killer this
    operator exists to avoid); global_rank reproduces the identical numbers
    via range-partition + zero-shuffle local-rank stamp + a prefix sum over
    per-partition COUNTS (rows == partitions, never data-sized) + broadcast
    offset join. The oracle runs the single-window form DuckDB can afford
    at sf0.01, pinning the two-phase rewrite row-for-row; the decile is
    exact integer arithmetic on (rank, total), not float NTILE."""
    from pincspark.operators.order import global_rank

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # total comes out of global_rank's own per-partition counts (ADVICE
    # r12: no separate eager count() pass), and the decile uses exact
    # integer division — the oracle's `//` operator, not a double cast.
    ranked = global_rank(
        orders,
        [("o_totalprice", False), ("o_orderkey", True)],
        rank_col="rnk",
        num_partitions=8,
        total_col="__total",
    )
    return ranked.select(
        "o_orderkey",
        "o_totalprice",
        "rnk",
        (F.expr("((rnk - 1) * 10) div __total").cast("int") + F.lit(1)).alias(
            "decile"
        ),
    )


ORACLE_Q99 = """
WITH r AS (
  SELECT o_orderkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk,
         COUNT(*) OVER () AS total
  FROM orders
)
SELECT o_orderkey, o_totalprice, rnk,
       CAST((rnk - 1) * 10 // total AS INTEGER) + 1 AS decile
FROM r
"""


def q100_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe user-level train/val/test split
    (`pincspark.operators.sampling.group_holdout_split`): every event is
    assigned 80/10/10 by md5-hash of its USER (not its row), so no user's
    activity straddles an evaluation boundary — the group-holdout guard a
    training pipeline needs before near-dup filtering can even matter.
    Zero shuffle (a narrow CASE over the group key — plan-asserted in
    tests/test_sampling.py), reproducible on any cluster size and stable
    under corpus growth; the oracle replays the identical modular
    arithmetic via group_holdout_split_sql."""
    from pincspark.operators.sampling import group_holdout_split

    events = table(spark, sf_dir, "events").select("event_id", "user_id")
    return group_holdout_split(events, "user_id", salt="holdout")


def _q100_oracle() -> str:
    from pincspark.operators.sampling import group_holdout_split_sql

    case = group_holdout_split_sql("user_id", salt="holdout")
    return f"""
SELECT event_id, user_id,
{case} AS split
FROM events
"""


def q101_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bounded-frame sliding stats: mean and max of `value` over
    the trailing 5 events (ROWS BETWEEN 4 PRECEDING AND CURRENT ROW,
    ordered by ts with event_id tie-break) — the rolling-feature shape
    (EWMA-class trailing signals, rate limiting, trend features) that the
    catalog's other windows don't cover: q11 is an UNBOUNDED running sum,
    q13/q92 are gap sessions, q08 is lead(); this is the bounded frame.
    One shuffle (hash on user_id), per-key local sort, no global order.
    Determinism: the frame SUM runs in DECIMAL(18,2) (exact, order-free —
    DuckDB's sliding-window segment-tree aggregation may re-associate a
    double sum) and divides by the frame COUNT in double once."""
    from pyspark.sql import Window

    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-4, 0)
    )
    mov_sum = F.sum(_dec2("value")).over(w).cast("double")
    mov_n = F.count(F.lit(1)).over(w)
    return events.select(
        "event_id",
        "user_id",
        (mov_sum / mov_n).alias("mov_avg"),
        F.max("value").over(w).alias("mov_max"),
    )


ORACLE_Q101 = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / COUNT(*) OVER w AS mov_avg,
       MAX(value) OVER w AS mov_max
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


def q102_user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence assembly: each user's full event-type journey as one
    ordered string — the grab-all-of-a-key's-rows-in-order primitive that
    turns an event log into sequence training examples (conversation
    threads, clickstreams, voyage legs). Order inside the group is made
    deterministic WITHOUT a window: collect the (ts, event_id, type)
    structs, `array_sort` them (struct order = field order, event_id a
    unique tie-break), then project the types — so the result is
    independent of partitioning and encounter order, which a bare
    collect_list-over-sorted-frame is NOT (Spark documents collect_list
    as non-deterministic under reordering).

    Scale: ONE shuffle on user_id, inherent — sequence assembly by
    definition co-locates a key's rows. Per-key cost is the key's own
    event count (bounded by per-user activity, not corpus size); a
    pathological hot key would cap via q89-style presplit top-K before
    assembly. The oracle rebuilds the same strings with DuckDB's ordered
    string_agg."""
    events = table(spark, sf_dir, "events")
    seq = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    return (
        events.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(seq, lambda x: x["event_type"]), ">"
            ).alias("journey"),
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("first_us"),
            F.unix_micros(F.max("ts")).alias("last_us"),
        )
    )


ORACLE_Q102 = """
SELECT user_id,
       string_agg(event_type, '>' ORDER BY ts ASC, event_id ASC) AS journey,
       COUNT(*) AS n_events,
       epoch_us(MIN(ts)) AS first_us,
       epoch_us(MAX(ts)) AS last_us
FROM events
GROUP BY user_id
"""


_CMS_PROBES = (
    "join", "hash", "scan", "spark", "window", "sort", "the",
    "zeppelin", "quasar",
)
_CMS_W, _CMS_D = 512, 3


def q103_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates (`operators/sketches.cms_sketch` /
    `cms_estimate`): build a 3x512 CMS over the corpus's lowercase
    whitespace tokens (the q98 tokenization), then answer "about how often
    does X occur?" for a fixed probe list — two present-heavy, mid, and
    absent tokens included — from the SKETCH alone. This completes the
    mergeable-sketch family (Bloom membership / KMV cardinality / MG+
    recount exact heavy hitters): cell-wise-SUM mergeable, depth*width
    rows regardless of corpus size, estimates via broadcast join. All
    BIGINT md5 arithmetic; the oracle rebuilds the identical cells and
    minimums in SQL, so the driver pins estimator arithmetic exactly, not
    just within error bounds."""
    from pincspark.operators.sketches import cms_estimate, cms_sketch

    toks = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    sketch = cms_sketch(toks, "token", width=_CMS_W, depth=_CMS_D)
    probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], "token string")
    return cms_estimate(sketch, probes, "token", width=_CMS_W, depth=_CMS_D)


def _q103_oracle() -> str:
    probe_list = ", ".join(f"'{t}'" for t in _CMS_PROBES)
    bucket = (
        "CAST(('0x' || substring(md5('cms:' || CAST(j AS VARCHAR) || ':' || token), 1, 8)) "
        f"AS BIGINT) % {_CMS_W}"
    )
    js = ", ".join(str(j) for j in range(_CMS_D))
    return f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
), t AS (
  SELECT token FROM toks WHERE token <> ''
), cells AS (
  SELECT j, {bucket} AS bucket, COUNT(*) AS cnt
  FROM t CROSS JOIN (SELECT unnest([{js}]) AS j) js
  GROUP BY 1, 2
), probes AS (
  SELECT unnest([{probe_list}]) AS token
), pb AS (
  SELECT token, j, {bucket} AS bucket
  FROM probes CROSS JOIN (SELECT unnest([{js}]) AS j) js
)
SELECT pb.token, CAST(MIN(COALESCE(cells.cnt, 0)) AS BIGINT) AS est
FROM pb LEFT JOIN cells USING (j, bucket)
GROUP BY pb.token
"""


_TEXT_INDEX_CACHE: dict[object, str] = {}


def q104_text_index_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent inverted-index SERVING path (the lexical twin of q62's
    build-once/serve-many IVF shape, `operators/text_index.py`): the
    corpus is tokenized ONCE per session per sf_dir into postings parquet
    PARTITIONED BY term_bucket (+ dfreq + stats sidecars); the query's
    term buckets are computed driver-side and pushed into the postings
    scan as a PARTITION filter, so a 4-term query physically reads only
    its buckets, never the corpus-wide posting table (pruning
    plan-asserted in tests/test_text_index.py). Same terms, same BM25
    constant folding, same oracle as the transient q48 — served ==
    transient row identity is pinned in tests/test_text_index.py."""
    import tempfile

    from pincspark.operators.text_index import build_text_index, search_text_index

    docs = table(spark, sf_dir, "documents")
    path = _TEXT_INDEX_CACHE.get(sf_dir)
    if path is None:
        # Fresh tempdir per process, removed at interpreter exit (the q62
        # lesson: benchmark processes must not leak /tmp copies; a real
        # deployment points this at durable storage and keeps it).
        import atexit
        import shutil

        path = tempfile.mkdtemp(prefix="pincspark_txt_idx_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_text_index(docs, path)
        _TEXT_INDEX_CACHE[sf_dir] = path
    return search_text_index(spark, path, _BM25_TERMS)


def q105_hdr_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (`operators/sketches.hdr_sketch` family):
    per-priority p50/p95/p99 of order value answered from a LOG-BINNED
    HISTOGRAM, the quantile member of the mergeable-sketch family (Bloom
    membership / KMV cardinality / MG+recount heavy hitters / CMS
    frequency). The gated path exercises the production steady state —
    per-(priority, status) PART sketches cell-wise folded by `hdr_merge`
    into the per-priority summary — while the oracle bins the raw table
    directly, so the driver pins merge == rebuild, the integer bin
    arithmetic (floor-log2 via length(bin(v)), shifts — no doubles), and
    the cumulative-rank quantile pick bit-for-bit. Money is scaled to
    BIGINT cents upstream; every estimate is within 2^-5 relative error
    by the bin-width bound (pinned in tests/test_sketches.py)."""
    from pincspark.operators.sketches import hdr_merge, hdr_quantiles, hdr_sketch

    orders = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    parts = hdr_sketch(orders, "cents", ["o_orderpriority", "o_orderstatus"])
    merged = hdr_merge(parts.drop("o_orderstatus"))
    return hdr_quantiles(merged, [0.5, 0.95, 0.99], ["o_orderpriority"])


ORACLE_Q105 = """
WITH vals AS (
  SELECT o_orderpriority AS pri, CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
), binned AS (
  SELECT pri,
         GREATEST(length(bin(v)) - 1 - 5, 0) * 32
           + (v >> GREATEST(length(bin(v)) - 1 - 5, 0)) AS bin_id
  FROM vals
), cells AS (
  SELECT pri, bin_id, COUNT(*) AS cnt FROM binned GROUP BY 1, 2
), cum AS (
  SELECT pri, bin_id, cnt,
         SUM(cnt) OVER (PARTITION BY pri ORDER BY bin_id) AS cum,
         SUM(cnt) OVER (PARTITION BY pri) AS total
  FROM cells
), hits AS (
  SELECT pri, q100, bin_id, cnt, cum,
         (q100 * total + 99) // 100 AS rank_needed
  FROM cum CROSS JOIN (SELECT unnest([50, 95, 99]) AS q100) qs
  WHERE cum >= (q100 * total + 99) // 100
    AND cum - cnt < (q100 * total + 99) // 100
)
SELECT pri AS o_orderpriority,
       CAST(q100 AS DOUBLE) / 100 AS q,
       CAST((bin_id - GREATEST(bin_id // 32 - 1, 0) * 32)
            << GREATEST(bin_id // 32 - 1, 0) AS BIGINT) AS value_lo
FROM hits
"""


def q107_text_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental text-index MAINTENANCE under the hard oracle — the
    serving steady state q104 builds toward: the persisted index is built
    over half the corpus (even doc_ids), the other half arrives as a new
    crawl batch folded in by `update_text_index` in O(batch) work
    (postings buckets appended — history files untouched, proven in
    tests/test_text_index.py — dfreq full-outer-folded, exact BIGINT
    stats sums added), and the SAME oracle as q48/q104 (full-corpus BM25)
    gates the served result: the fold arithmetic must reproduce the
    full-corpus build bit-for-bit, every round, at driver strength."""
    import tempfile

    from pincspark.operators.text_index import (
        build_text_index,
        search_text_index,
        update_text_index,
    )

    docs = table(spark, sf_dir, "documents")
    key = ("upd", sf_dir)
    path = _TEXT_INDEX_CACHE.get(key)
    if path is None:
        import atexit
        import shutil

        path = tempfile.mkdtemp(prefix="pincspark_txt_upd_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_text_index(docs.filter(F.col("doc_id") % 2 == 0), path)
        update_text_index(docs.filter(F.col("doc_id") % 2 == 1), path)
        _TEXT_INDEX_CACHE[key] = path
    return search_text_index(spark, path, _BM25_TERMS)


def q106_exact_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-set similarity self-join at Jaccard >= 0.5 via
    prefix filtering (`operators/dedup.set_similarity_join`, the
    AllPairs/PPJoin family) — the zero-false-negative complement to the
    MinHash-LSH proposal path (q53/q54): LSH trades recall for banded
    bucketing; prefix filtering returns EVERY qualifying pair, with the
    candidate join keyed on each document's RAREST shingles only (the
    global frequency order makes the prefix posting lists short). The
    oracle is the stronger form — a brute-force all-pairs SQL twin — so
    the driver pins the no-false-negative claim itself, not a mirrored
    construction. Same 3-gram shingle discipline and thresholds as q53's
    verify stage; output is all-BIGINT (id_a, id_b, inter, uni)."""
    from pincspark.operators.dedup import set_similarity_join

    docs = table(spark, sf_dir, "documents")
    return set_similarity_join(docs, "doc_id", "text", tau100=50, n=3)


_Q106_SHINGLE = (
    "CASE WHEN len(toks) >= 3 THEN "
    "list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' ')) "
    "ELSE [array_to_string(toks, ' ')] END"
)

ORACLE_Q106 = f"""
WITH toks_t AS (
  SELECT doc_id, {_SQL_TOKS.format(c=_SQL_NORM.format(c='text'))} AS toks FROM documents
), sets AS (
  -- distinct on the shingle STRING, then the 60-bit md5-prefix hash —
  -- identical to shingle_hash_array_py(text, 3, 15)
  SELECT doc_id,
         list_sort(list_transform(
           list_filter(list_distinct({_Q106_SHINGLE}), x -> x <> ''),
           x -> CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)
         )) AS s
  FROM toks_t
), sized AS (
  SELECT doc_id, s, len(s) AS sz FROM sets WHERE len(s) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
       CAST(a.sz + b.sz - len(list_intersect(a.s, b.s)) AS BIGINT) AS uni
FROM sized a JOIN sized b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 100
      >= 50 * (a.sz + b.sz - len(list_intersect(a.s, b.s)))
"""


def q108_track_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-aware track resampling (`operators/geo.resample_tracks`): the
    minted vessel fixes re-emitted on a fixed 2-hour grid with linear
    interpolation between consecutive fixes, segments longer than 24h
    treated as signal loss — the standard AIS cleaning step before
    encounter screening / density rollups (equal spacing makes per-cell
    counts comparable). One keyed window + a bounded narrow explode; the
    interpolation is plain double arithmetic in a pinned association, so
    the oracle reproduces every coordinate bit-for-bit (%.17g hash, no
    rounding crutch)."""
    from pincspark.operators.geo import resample_tracks, synthetic_fixes

    fixes = synthetic_fixes(table(spark, sf_dir, "events"))
    return resample_tracks(fixes, step_s=7200, max_gap_s=86400)


ORACLE_Q108 = """
WITH uniq AS (
  SELECT user_id AS mmsi, ts,
         100.5 + (value % 2.5) AS lon,
         1.0 + CAST(user_id % 21 AS DOUBLE) / 10.0 AS lat
  FROM (
    SELECT user_id, ts, value, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
    FROM events WHERE user_id IS NOT NULL
  ) t WHERE rn = 1
), seg AS (
  SELECT mmsi,
         CAST(floor(epoch(ts)) AS BIGINT) AS t0, lat AS lat0, lon AS lon0,
         LEAD(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS t1,
         LEAD(lat) OVER w AS lat1,
         LEAD(lon) OVER w AS lon1
  FROM uniq
  WINDOW w AS (PARTITION BY mmsi ORDER BY ts)
), grid AS (
  SELECT mmsi, t0, lat0, lon0, t1, lat1, lon1,
         unnest(generate_series(((t0 + 7199) // 7200) * 7200, t1 - 1, 7200)) AS g
  FROM seg
  WHERE t1 IS NOT NULL AND t1 > t0 AND t1 - t0 <= 86400
    AND ((t0 + 7199) // 7200) * 7200 <= t1 - 1
)
SELECT mmsi, g AS grid_ts,
       lat0 + (lat1 - lat0) * (CAST(g - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))
         AS latitude,
       lon0 + (lon1 - lon0) * (CAST(g - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))
         AS longitude
FROM grid
"""


def q109_cluster_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware holdout split — the leakage guard q100's
    group hash cannot give: q100 keys the split on an EXPLICIT group
    (user, domain), but near-DUPLICATE documents have no shared key, so a
    row-level or even user-level split still puts one copy in train and
    its twin in test, and the eval measures memorization. This query
    splits by the documents' near-dup CONNECTED COMPONENT: MinHash-LSH
    pairs (q19/q42 parameters) -> min-label components (only the label
    table shuffles) -> cluster root as the split group -> the q100
    md5-CASE assignment on the root. By construction no near-dup cluster
    straddles an evaluation boundary (pinned pair-wise in
    tests/test_sampling.py). Subsumes q42's whole pairs->clusters
    construction and adds the split stage; the oracle replays the
    recursive transitive-closure CTE + the identical modular split
    arithmetic."""
    from pincspark.operators.dedup import dedup_clusters, minhash_lsh_pairs
    from pincspark.operators.sampling import group_holdout_split

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perms=16, bands=4)
    clusters = dedup_clusters(pairs)
    with_cluster = (
        docs.select("doc_id")
        .join(clusters, docs["doc_id"] == clusters["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    return group_holdout_split(with_cluster, "cluster_id", salt="clsplit")


def _q109_oracle() -> str:
    from pincspark.operators.sampling import group_holdout_split_sql

    split_case = group_holdout_split_sql("cluster_id", salt="clsplit")
    return f"""
WITH RECURSIVE pairs AS (
{_minhash_oracle()}
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk(src, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.src
), comp AS (
  SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY src
), assigned AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, cluster_id,
{split_case} AS split
FROM assigned
"""


ORACLE_Q109 = _q109_oracle()


# Extra malformed lines for the q110 ingest census (kept OUT of
# REASSEMBLY_ARCHIVE: a no-checksum line would make ORACLE_Q88's
# ('0x' || declared)::INTEGER cast throw; q110's oracle classifies that
# case BEFORE any cast):
INGEST_ARCHIVE = REASSEMBLY_ARCHIVE + [
    r"",                                  # empty line
    r"!ABVDM,1,1,0,A,NOSTAR,0",           # no '*' -> no_checksum
    r"!ABVDM,1,1,0,A,P1,0*00",            # wrong checksum on a singleton
]


def q110_ingest_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest QUARANTINE census — what the reference silently drops
    (ais_analysis.py:266-288 discards bad lines with no trace), a
    production ingest must account for: every input line classified with
    a reason code, counted. Line tier (first match wins): empty /
    no_bang (no NMEA payload) / no_checksum (no '*') / bad_checksum
    (XOR mismatch — the REAL P2 `checksum_valid` expression); surviving
    lines then carry their reassembly-group outcome: assembled (group
    complete, fragments exactly 1..total) or orphaned (incomplete,
    duplicate or out-of-range fragment numbers — quarantined, exactly
    what an operator pages on when a feed degrades). The oracle
    re-derives every class independently, so a drift in ANY drop rule
    shows as a hash mismatch — the diagnosability twin of q88, which
    pins what IS emitted. The classifier + census body live in
    `pincspark/streaming/census.py` (r14), shared verbatim with the
    STREAMING quarantine form so the drop rules cannot drift between
    the batch gate and the live ingest path."""
    from pincspark.streaming.census import batch_ingest_census

    df = spark.createDataFrame(
        list(enumerate(INGEST_ARCHIVE)), "line_idx LONG, value STRING"
    )
    return batch_ingest_census(df)


def _q110_oracle() -> str:
    vals = ",\n  ".join(
        "({}, '{}')".format(i, l.replace("'", "''"))
        for i, l in enumerate(INGEST_ARCHIVE)
    )
    # ADVICE r13: the bad_checksum branch mirrors the engine's
    # checksum_valid EXACTLY so future INGEST_ARCHIVE additions can't
    # crash or silently diverge the oracle:
    #   * declared = text after the LAST '*' (engine substring_index
    #     ..., -1), not split_part's first-'*' field;
    #   * the hex parse replays Spark conv(x,16,10): longest valid hex
    #     prefix, 0 when no hex digit, NULL on the empty string — via
    #     regexp_extract + TRY_CAST, which cannot throw;
    #   * an empty checksum body ('!*XX') folds to 0 instead of feeding
    #     list_reduce an empty list (a DuckDB error).
    body = "substring(split_part(sentence, '*', 1), 2)"
    declared = "string_split(sentence, '*')[-1]"
    hexpfx = f"regexp_extract(upper({declared}), '^[0-9A-F]+')"
    parsed = (
        f"CASE WHEN {declared} = '' THEN NULL "
        f"WHEN {hexpfx} = '' THEN 0 "
        f"ELSE TRY_CAST('0x' || {hexpfx} AS INTEGER) END"
    )
    folded = (
        f"CASE WHEN length({body}) = 0 THEN 0 ELSE "
        f"list_reduce(list_transform(generate_series(1, length({body})),"
        f" i -> unicode({body}[i])), (a, b) -> xor(a, b)) END"
    )
    return f"""
WITH raw(line_no, line) AS (VALUES
  {vals}
), base AS (
  SELECT line_no, line, instr(line, '!') AS bang,
         substring(line, instr(line, '!')) AS sentence
  FROM raw
), line_status AS (
  SELECT line_no, sentence,
    CASE WHEN line = '' THEN 'empty'
         WHEN bang = 0 THEN 'no_bang'
         WHEN instr(sentence, '*') = 0 THEN 'no_checksum'
         WHEN {folded} IS DISTINCT FROM ({parsed})
           THEN 'bad_checksum'
         ELSE NULL END AS status
  FROM base
), valid AS (
  SELECT line_no,
         COALESCE(TRY_CAST(string_split(sentence, ',')[2] AS INTEGER), 1) AS total,
         COALESCE(TRY_CAST(string_split(sentence, ',')[3] AS INTEGER), 1) AS num,
         COALESCE(TRY_CAST(string_split(sentence, ',')[4] AS INTEGER), 0) AS seq_id
  FROM line_status WHERE status IS NULL
), g AS (
  SELECT line_no - (num - 1) AS gkey, seq_id, total, COUNT(*) AS n_frags,
         list_sort(list(num)) AS nums
  FROM valid GROUP BY 1, 2, 3
), gl AS (
  SELECT CASE WHEN g.n_frags = g.total AND g.nums = generate_series(1, g.total)
              THEN 'assembled' ELSE 'orphaned' END AS status
  FROM valid v
  JOIN g ON v.line_no - (v.num - 1) = g.gkey
        AND v.seq_id = g.seq_id AND v.total = g.total
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT status FROM line_status WHERE status IS NOT NULL
      UNION ALL SELECT status FROM gl) u
GROUP BY status
"""


ORACLE_Q110 = _q110_oracle()


def _mint_raster_stream(seed: str, n: int = 14) -> str:
    """432-char APERIODIC byte stream for the minted 18x8 rasters of the
    perceptual-tier corpora (q111/q114/q115): 14 chained md5 digests,
    truncated. Replaces the r14 ``(md5(seed) * 14)[:432]`` construction,
    whose 32-char period made every raster a phase-shifted repeat of one
    digest — the 64 dhash comparison bits then collapsed onto ~16
    independent phases and the corpus' distinct-hash count flattened
    (measured at the 64x probe: 30k docs -> 9,577 distinct dhashes, top
    cluster 47, ~16M accidental hamming-0 pairs corpus-wide — a
    QUADRATIC pair tier that OOM'd q114's composition; the chained
    stream restores 29,627/30,000 distinct with max cluster 2 = exactly
    the planted twins). Mirrored in SQL by :func:`_mint_raster_stream_sql`.
    """
    import hashlib

    return "".join(
        hashlib.md5(f"{seed}#{i}".encode("utf-8")).hexdigest()
        for i in range(n)
    )[:432]


def _mint_raster_stream_sql(seed_expr: str, n: int = 14) -> str:
    """DuckDB twin of :func:`_mint_raster_stream`: concatenated chained
    md5s of ``seed_expr`` (a SQL string expression), truncated to 432."""
    parts = " || ".join(f"md5(({seed_expr}) || '#{i}')" for i in range(n))
    return f"substring({parts}, 1, 432)"


def q111_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-duplicate pairs — the dedup tier a
    multimodal curation run needs that neither exact bytes nor text
    shingles give (VERDICT r13 #1). Corpus: every document mints an
    18x8 RGB raster from its md5 hex (the q56/q57 mint, widened so the
    dhash grid divides evenly), PNG-encoded across all five scanline
    filters + Adam7; docs with doc_id % 7 == 3 additionally plant a
    TWIN — the same image 2x pixel-replicated (36x16) and RE-ENCODED as
    BMP (different container, different size, byte-disjoint blob;
    media_id = doc_id + 1e9). Engine: strict decode of BOTH containers
    through the from-scratch codecs -> exact-integer dhash
    (`operators/image_hash.image_dhash`) -> the q43 Hamming-ball LSH
    banding (4 bands x 16 bits, exact for hamming <= 3). Every twin
    must surface at hamming 0 because block-mean dhash is invariant
    under exact pixel replication — the engine EARNS that by decoding a
    real 16x36 BMP to the same 64 bits the oracle computes from the
    8x18 hex bytes; a drift anywhere (either codec, the grid reduction,
    the bit packing, the banded join) breaks parity. The oracle is
    BRUTE-FORCE all-pairs (like q106): banding is exact for
    max_hamming <= bands-1 and the 16-bit band buckets sit orders of
    magnitude under the cap (pinned by test_image_hash.py), so the
    engine's never-all-pairs path must reproduce the exhaustive answer.

    100 TB: mint+decode+hash is one narrow Arrow stage; only 64-bit
    fingerprints shuffle, once, on (band, slice)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.dedup import _spread
    from pincspark.operators.image_hash import image_neardup_pairs
    from pincspark.operators.multimodal import bmp_encode, png_encode

    def _mint(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                ras = np.frombuffer(
                    _mint_raster_stream(row.text).encode("ascii"),
                    dtype=np.uint8,
                ).reshape(8, 18, 3)
                did = int(row.doc_id)
                rows.append((did, png_encode(ras, did % 5, interlace=bool(did % 2))))
                if did % 7 == 3:
                    twin = ras.repeat(2, axis=0).repeat(2, axis=1)
                    rows.append((did + 1_000_000_000, bmp_encode(twin)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    media = docs.mapInPandas(
        _mint, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("image"))
    return image_neardup_pairs(
        media, hash_col="dhash", bands=4, max_hamming=3, strict=True
    )


def _q111_oracle() -> str:
    from pincspark.operators.image_hash import dhash_sql

    # the 2x-replicated twin shares the base's dhash BY THE OPERATOR'S
    # INVARIANCE (every block sum and count scale by the same factor, so
    # every comparison bit is unchanged) — the oracle computes the hash
    # once per document from the raw hex bytes and asserts the engine's
    # independently-decoded 16x36 BMP lands on the same 64 bits
    h = dhash_sql("ras", width=18, height=8).replace(
        "__ras__",
        "(SELECT doc_id AS media_id, "
        f"{_mint_raster_stream_sql('text')} AS ras FROM documents)",
    )
    return f"""
WITH h AS (
  {h}
), m AS (
  SELECT media_id, dh FROM h
  UNION ALL
  SELECT media_id + 1000000000 AS media_id, dh FROM h WHERE media_id % 7 = 3
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.dh, b.dh)) AS INTEGER) AS hamming
FROM m a JOIN m b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dh, b.dh)) <= 3
"""


ORACLE_Q111 = _q111_oracle()


_ANN_UPDATE_CACHE: dict[tuple, str] = {}


def _ann_update_cache_key(
    spark: SparkSession, sf_dir: str, table_name: str = "embeddings"
) -> tuple:
    """Cache key for a built-once per-process index (q112's IVF fold,
    q115's fingerprint store; VERDICT r14 #7 + ADVICE r14 #3):
    (applicationId, sf_dir, input-table fingerprint). The module global
    outlives Spark sessions AND input regenerations —
    - applicationId: a second session in one process must not serve
      tempdir files the first session wrote;
    - mtime/size fingerprint: a test fixture that regenerates the input
      parquet under the same sf_dir must trigger a rebuild, not
      stale-index parity breaks."""
    import os

    p = os.path.join(sf_dir, f"{table_name}.parquet")
    sig: tuple
    try:
        st = os.stat(p)
        if os.path.isdir(p):
            parts = []
            for f in sorted(os.listdir(p)):
                s = os.stat(os.path.join(p, f))
                parts.append((f, s.st_mtime_ns, s.st_size))
            sig = tuple(parts)
        else:
            sig = (st.st_mtime_ns, st.st_size)
    except OSError:
        sig = ()
    return (spark.sparkContext.applicationId, sf_dir, table_name, sig)


def q112_ann_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (VERDICT r13 #4) — the vector
    twin of q107: a persisted IVF index is built on the EVEN half of the
    corpus only, then the odd half arrives as a new crawl batch and is
    FOLDED in with `update_ivf_index` — frozen centroids, nearest-cell
    assignment, parquet APPEND into the cell partitions, history files
    untouched (path+mtime-pinned in tests/test_ann_index.py). Serving
    then probes the updated index exactly like q62. The oracle replays
    the semantics the update must preserve: centroids = the 16
    smallest-id EVEN vectors (what the half-corpus build seeded),
    assignment of the FULL corpus against those frozen centroids, probe,
    top-k — so a retrain, a mis-assignment of the batch, or a lost/
    duplicated posting all break parity. O(batch) fold: the update never
    reads the existing postings."""
    import atexit
    import shutil
    import tempfile

    from pincspark.operators.ann_index import (
        build_ivf_index,
        ivf_index_topk,
        update_ivf_index,
    )

    emb = table(spark, sf_dir, "embeddings")
    key = _ann_update_cache_key(spark, sf_dir)
    path = _ANN_UPDATE_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="pincspark_ivf_upd_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path, num_cells=16)
        update_ivf_index(spark, emb.filter(F.col("vec_id") % 2 == 1), path)
        _ANN_UPDATE_CACHE[key] = path
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_index_topk(spark, path, queries_df, k=5, nprobe=4).select(
        "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "score"
    )


# ORACLE_Q22 with the centroid seed restricted to the even half — the
# frozen codebook the incremental path must keep serving under
ORACLE_Q112 = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cent AS (
  SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 16
), assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, cent.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND({_SQL_COS.format(a='e.v', b='cent.cv')}, 9) DESC, cent.cell ASC
           ) AS rn
    FROM e, cent
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, cent.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND({_SQL_COS.format(a='q.qv', b='cent.cv')}, 9) DESC, cent.cell ASC
           ) AS rn
    FROM q, cent
  ) WHERE rn <= 4
), s AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND({_SQL_COS.format(a='p.qv', b='a.v')}, 6) AS score
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 5
"""


def q113_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-duplicate pairs — the audio twin of q111
    and the third consumer of the shared Hamming-ball banding
    (`operators/audio_hash.py`). Corpus: every document mints a
    1040-sample mono FLAC (65 constant 16-sample blocks, block values =
    md5 hex ASCII — real Rice/UTF-8/CRC bitstream decode in the hot
    path, the q61 discipline); docs with doc_id % 5 == 2 plant a TWIN:
    the SAME clip at 3x GAIN re-encoded as Sun AU 16-bit linear PCM
    (different container, different bytes, different amplitudes;
    media_id = doc_id + 1e9). The energy-contour hash is gain- and
    container-invariant by construction, so every twin must surface at
    hamming 0 — and the engine EARNS it by decoding a real AU clip at
    3x amplitude onto the same 64 bits the oracle computes from the raw
    hex bytes; a drift in either codec, the block reduction, the bit
    packing, or the banded join breaks parity. Oracle: brute-force
    all-pairs (banding exact for hamming <= bands-1).

    100 TB: mint+decode+hash one narrow Arrow stage; only 64-bit
    fingerprints shuffle, once, on (band, slice)."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.audio_hash import audio_neardup_pairs
    from pincspark.operators.dedup import _spread
    from pincspark.operators.flac import flac_encode
    from pincspark.operators.multimodal import au_encode

    def _mint(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                hexd = hashlib.md5(row.text.encode("utf-8")).hexdigest()
                vals = np.array(
                    [ord(c) for c in (hexd * 3)[:65]], dtype=np.int64
                )
                sig = np.repeat(vals, 16)
                did = int(row.doc_id)
                rows.append((did, flac_encode(sig, rate=8000, mode="fixed2")))
                if did % 5 == 2:
                    rows.append((
                        did + 1_000_000_000,
                        au_encode(sig * 3, 8000, encoding=3),
                    ))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    media = docs.mapInPandas(
        _mint, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("audio"))
    return audio_neardup_pairs(media, bands=4, max_hamming=3, strict=True)


def _contour_hash_sql() -> str:
    """SQL twin of `audio_hash.audio_contour_hash` over a 65-element
    BIGINT list column ``bv`` of equal-count block values (the q113/q114
    mint shape): the cross-multiplied block-sum comparison reduces to
    bv[k] < bv[k+1], packed with the signed bit-63 arithmetic."""
    terms = []
    for k in range(64):
        coeff = -(1 << 63) if k == 63 else (1 << k)
        terms.append(
            f"(CASE WHEN bv[{k + 1}] < bv[{k + 2}] "
            f"THEN CAST({coeff} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(terms)


def _q113_oracle() -> str:
    # equal 16-sample constant blocks: the engine's cross-multiplied
    # block-sum comparison reduces to the raw block-value comparison
    # bv[k] < bv[k+1]; the 3x-gain AU twin shares the hash BY THE
    # OPERATOR'S INVARIANCE (every |sample| sum scales by 3 — the
    # engine proves it on genuinely decoded 3x samples)
    return f"""
WITH b AS (
  SELECT doc_id AS media_id,
         list_transform(generate_series(1, 65),
                        i -> CAST(ascii(substring(repeat(md5(text), 3), i, 1)) AS BIGINT)) AS bv
  FROM documents
), h AS (
  SELECT media_id, {_contour_hash_sql()} AS ah FROM b
), m AS (
  SELECT media_id, ah FROM h
  UNION ALL
  SELECT media_id + 1000000000 AS media_id, ah FROM h WHERE media_id % 5 = 2
)
SELECT a.media_id AS id_a, b2.media_id AS id_b,
       CAST(bit_count(xor(a.ah, b2.ah)) AS INTEGER) AS hamming
FROM m a JOIN m b2 ON a.media_id < b2.media_id
WHERE bit_count(xor(a.ah, b2.ah)) <= 3
"""


ORACLE_Q113 = _q113_oracle()


def _driver_heap_bytes(spark: SparkSession) -> int:
    """Best estimate of the configured driver heap, for memory-mode
    decisions (VERDICT r15 #4): ``spark.driver.memory`` when set, else
    the live JVM's ``Runtime.maxMemory()`` scaled back up by the ~6%
    survivor-space discount the JVM applies to -Xmx."""
    try:
        v = spark.conf.get("spark.driver.memory", None)
    except Exception:
        v = None
    if v:
        m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", v.strip().lower())
        if m:
            n, unit = int(m.group(1)), m.group(2)
            shift = {"": 20, "k": 10, "m": 20, "g": 30, "t": 40}[unit]
            return n << shift  # suffix-less spark.driver.memory is MiB
    try:
        return int(
            spark.sparkContext._jvm.Runtime.getRuntime().maxMemory() / 0.94
        )
    except Exception:
        return 1 << 30  # mock sessions in tests: assume the small heap


def q114_multimodal_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL near-dup keep-list — the r14 capstone composition: a
    multimodal curation run must drop a document when ANY of its
    modalities duplicates another document's (same article re-posted
    with the same photo, same clip under different text, ...). Edges
    from all three tiers feed ONE connected-component keep-list:

        text:  MinHash-LSH pairs (the q19/q109 parameters)
        image: dhash banded-Hamming pairs over STRICT-decoded PNGs
        audio: energy-contour pairs over STRICT-decoded FLACs

    Each doc mints one image and one clip; cross-doc media twins are
    planted by SEED SHARING (doc_id % 9 in (4,5) render the same
    'img<group>' raster through different PNG filter/interlace paths;
    doc_id % 11 in (2,3) the same 'aud<group>' clip), so the oracle can
    recompute every hash from the seeds while the engine must EARN the
    pairs through the real codecs. Pairs union -> `dedup_clusters`
    (min-id components) -> (doc_id, cluster_id, keep). The oracle
    replays all three pair sets in SQL (the q19 minhash construction,
    brute-force dhash and contour-hash joins) and the recursive
    transitive closure — a drift in ANY tier, the union seam, or the
    component labels breaks parity.

    100 TB: three narrow mint/hash stages + the three audited pair
    shuffles + label-only propagation; the corpus text/pixels/samples
    never fan out."""
    import hashlib
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.audio_hash import audio_neardup_pairs
    from pincspark.operators.dedup import (
        _spread,
        dedup_clusters,
        minhash_lsh_pairs,
    )
    from pincspark.operators.flac import flac_encode
    from pincspark.operators.image_hash import image_neardup_pairs
    from pincspark.operators.multimodal import png_encode

    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    tpairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perms=16, bands=4
    ).select("id_a", "id_b")

    def _mint_images(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                d = int(row.doc_id)
                seed = f"img{d // 9}" if d % 9 in (4, 5) else row.text
                ras = np.frombuffer(
                    _mint_raster_stream(seed).encode("ascii"), dtype=np.uint8
                ).reshape(8, 18, 3)
                rows.append((d, png_encode(ras, d % 5, interlace=bool(d % 2))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    def _mint_audio(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for row in pdf.itertuples(index=False):
                d = int(row.doc_id)
                seed = f"aud{d // 11}" if d % 11 in (2, 3) else row.text
                hexd = hashlib.md5(seed.encode("utf-8")).hexdigest()
                vals = np.array([ord(c) for c in (hexd * 3)[:65]], dtype=np.int64)
                rows.append(
                    (d, flac_encode(np.repeat(vals, 16), rate=8000, mode="fixed2"))
                )
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    imgs = docs.mapInPandas(
        _mint_images, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("image"))
    clips = docs.mapInPandas(
        _mint_audio, "media_id BIGINT, content BINARY"
    ).withColumn("kind", F.lit("audio"))
    ipairs = image_neardup_pairs(
        imgs, hash_col="dhash", bands=4, max_hamming=3, strict=True
    ).select("id_a", "id_b")
    apairs = audio_neardup_pairs(
        clips, bands=4, max_hamming=3, strict=True
    ).select("id_a", "id_b")

    # Timing contract (ADVICE r14 #5): these eager barriers run Spark
    # jobs at PLAN-CONSTRUCTION time, so a harness must start its clock
    # before calling the query builder — bench.py and scale_probe both
    # time `fn(spark, sf_dir).write...` as one span, which covers it.
    # Each tier materializes EAGERLY before the union: dedup_clusters'
    # edges checkpoint is one action, and these barriers keep the tiers'
    # pair frames (id-pairs only, KBs per million docs) as the only
    # thing the closure phase retains. The GC pulse after staging frees
    # the finished tiers' internal checkpoint/broadcast blocks (the
    # rebind drops the last reference to each pre-stage plan) — without
    # it the 64x probe needed a 24 g driver (VERDICT r14 #3).
    from pincspark.staging import release_unreferenced_blocks

    # Default: the three tiers materialize CONCURRENTLY (thread-submitted
    # Spark jobs) — they pipeline each other's idle phases (small
    # shuffles, sub-core stages), measured 6.39 -> 4.61 s median at sf0.1
    # and slope 9.8x -> 8.0x at the 64x probe, which passes on the
    # default 8 g heap now that the r15 aperiodic mint keeps pair volume
    # linear (the r14 OOM under concurrency was the quadratic-pair
    # corpus, not the concurrency). The default is HEAP-AWARE (VERDICT
    # r15 #4): below 8 g of spark.driver.memory, tiers stage one at a
    # time (peak memory = max-of-tiers instead of sum-of-tiers) with no
    # operator knowledge required of the deployment.
    # PINCSPARK_Q114_SEQUENTIAL=1/0 still force either mode explicitly.
    forced = os.environ.get("PINCSPARK_Q114_SEQUENTIAL")
    if forced is not None:
        sequential = forced == "1"
    else:
        sequential = _driver_heap_bytes(spark) < 8 << 30
    if sequential:
        tpairs = stage(tpairs, "q114:text_pairs", eager=True)
        release_unreferenced_blocks(spark)
        ipairs = stage(ipairs, "q114:image_pairs", eager=True)
        release_unreferenced_blocks(spark)
        apairs = stage(apairs, "q114:audio_pairs", eager=True)
        release_unreferenced_blocks(spark)
    else:
        import contextvars
        from concurrent.futures import ThreadPoolExecutor

        # Each submit runs under a COPY of the caller's contextvars context:
        # planhooks' staged-plan sink is a ContextVar, which does not
        # propagate to pool threads on its own, so without the copy the
        # three tiers' pre-checkpoint plans would silently vanish from
        # capture_staged_plans() (PLANS.md + the staged-plan lint) in the
        # default concurrent mode — the exact audit blindness the hook
        # exists to prevent (ADVICE r15 #1). The copies share the same
        # sink LIST object, so appends from all threads land in one sink
        # (list.append is atomic under the GIL).
        with ThreadPoolExecutor(max_workers=3) as ex:
            ctx = contextvars.copy_context()
            ft = ex.submit(ctx.run, stage, tpairs, "q114:text_pairs", True)
            ctx = contextvars.copy_context()
            fi = ex.submit(ctx.run, stage, ipairs, "q114:image_pairs", True)
            ctx = contextvars.copy_context()
            fa = ex.submit(ctx.run, stage, apairs, "q114:audio_pairs", True)
            tpairs, ipairs, apairs = ft.result(), fi.result(), fa.result()
        release_unreferenced_blocks(spark)
    pairs = tpairs.unionByName(ipairs).unionByName(apairs)
    clusters = dedup_clusters(pairs)
    return (
        docs.select("doc_id")
        .join(clusters, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("doc_id"))
    )


def _q114_oracle() -> str:
    from pincspark.operators.image_hash import dhash_sql

    img_seed = (
        "CASE WHEN doc_id % 9 IN (4, 5) "
        "THEN 'img' || CAST(doc_id // 9 AS VARCHAR) ELSE text END"
    )
    img_src = (
        "(SELECT doc_id AS media_id, "
        f"{_mint_raster_stream_sql(img_seed)} AS ras FROM documents)"
    )
    ih = dhash_sql("ras", width=18, height=8).replace("__ras__", img_src)
    return f"""
WITH RECURSIVE tpairs AS (
{_minhash_oracle()}
), ih AS (
  {ih}
), ipairs AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b
  FROM ih a JOIN ih b ON a.media_id < b.media_id
  WHERE bit_count(xor(a.dh, b.dh)) <= 3
), ab AS (
  SELECT doc_id AS media_id,
         list_transform(generate_series(1, 65),
                        i -> CAST(ascii(substring(repeat(md5(
                          CASE WHEN doc_id % 11 IN (2, 3)
                               THEN 'aud' || CAST(doc_id // 11 AS VARCHAR)
                               ELSE text END), 3), i, 1)) AS BIGINT)) AS bv
  FROM documents
), ah AS (
  SELECT media_id, {_contour_hash_sql()} AS ah FROM ab
), apairs AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b
  FROM ah a JOIN ah b ON a.media_id < b.media_id
  WHERE bit_count(xor(a.ah, b.ah)) <= 3
), allpairs AS (
  SELECT id_a, id_b FROM tpairs
  UNION SELECT id_a, id_b FROM ipairs
  UNION SELECT id_a, id_b FROM apairs
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM allpairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM allpairs
), walk(src, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.src
), comp AS (
  SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY src
)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


ORACLE_Q114 = _q114_oracle()


_FP_UPDATE_CACHE: dict[tuple, str] = {}


def q115_fingerprint_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PERCEPTUAL dedup — the fingerprint twin of q107 (text
    index fold) and q112 (ANN fold), closing VERDICT r14 #2: q111/q113
    re-hash the full media corpus every run; a crawl pipeline must
    near-dup each NEW batch against history without rescanning it.

    Corpus: every document mints an image from a seed raster (the q111
    18x8 md5 mint). EVEN doc_ids are HISTORY (PNG across filter/interlace
    variants); ODD doc_ids arrive as the new crawl BATCH, encoded as BMP
    of the 2x pixel-replicated raster — a different container AND a
    different scale, so every cross twin is earned through both codecs
    plus the dhash replication invariance. Planted twins by seed sharing:

        doc_id % 10 in (6, 7): cross pair  (6=history PNG, 7=batch BMP)
        doc_id % 10 in (1, 3): batch-batch pair (both BMP)
        doc_id % 10 in (2, 4): history-history pair — must NOT surface
                               (the update only emits pairs touching the
                               batch; a leak here means the incremental
                               path rescanned history)

    Engine: history dhashes -> `build_fingerprint_index` (banded table
    partitioned by pb, built ONCE per process via the q112 cache
    discipline); the batch folds in with `update_fingerprint_index` —
    O(batch), history media never re-decoded, history index files
    path+mtime untouched (tests/test_fingerprint_index.py); repeat runs
    serve `fingerprint_pairs_for_batch` against the updated store. The
    oracle is BRUTE-FORCE all-pairs over old ∪ batch restricted to pairs
    touching the batch — the engine's partition-pruned banded path must
    reproduce the exhaustive answer.

    100 TB: the batch hashes in one narrow Arrow stage; candidate lookup
    reads only the (band, slice) partition buckets the batch touches;
    nothing re-reads history pixels. Reference: the reference has no
    incremental media tier; this is the steady-state crawl form of q111.
    """
    import atexit
    import shutil
    import tempfile
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.dedup import _spread
    from pincspark.operators.fingerprint_index import (
        build_fingerprint_index,
        fingerprint_pairs_for_batch,
        update_fingerprint_index,
    )
    from pincspark.operators.image_hash import decode_image_hashes
    from pincspark.operators.multimodal import bmp_encode, png_encode

    def _mint(parity: int):
        def _go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = []
                for row in pdf.itertuples(index=False):
                    d = int(row.doc_id)
                    if d % 2 != parity:
                        continue
                    m = d % 10
                    if m in (6, 7):
                        seed = f"xm{d // 10}"
                    elif m in (1, 3):
                        seed = f"bm{d // 10}"
                    elif m in (2, 4):
                        seed = f"hm{d // 10}"
                    else:
                        seed = row.text
                    ras = np.frombuffer(
                        _mint_raster_stream(seed).encode("ascii"),
                        dtype=np.uint8,
                    ).reshape(8, 18, 3)
                    if parity == 0:
                        blob = png_encode(
                            ras, d % 5, interlace=bool((d // 2) % 2)
                        )
                    else:
                        twin = ras.repeat(2, axis=0).repeat(2, axis=1)
                        blob = bmp_encode(twin)
                    rows.append((d, blob))
                yield pd.DataFrame(rows, columns=["media_id", "content"])

        return _go

    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )

    def _hashed(parity: int) -> DataFrame:
        media = docs.mapInPandas(
            _mint(parity), "media_id BIGINT, content BINARY"
        ).withColumn("kind", F.lit("image"))
        return decode_image_hashes(media, strict=True).select(
            "media_id", F.col("dhash").alias("fhash")
        )

    key = _ann_update_cache_key(spark, sf_dir, "documents")
    path = _FP_UPDATE_CACHE.get(key)
    if path is None:
        path = tempfile.mkdtemp(prefix="pincspark_fp_upd_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_fingerprint_index(_hashed(0), path)
        pairs = update_fingerprint_index(spark, _hashed(1), path)
        _FP_UPDATE_CACHE[key] = path
    else:
        # Steady-state serving: the store already contains old ∪ batch;
        # re-hash the batch (narrow, deterministic) and probe the pruned
        # buckets — never re-append (idempotence pinned in tests).
        pairs = fingerprint_pairs_for_batch(spark, path, _hashed(1))
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _q115_oracle() -> str:
    from pincspark.operators.image_hash import dhash_sql

    # Twin exactness: the batch's 2x-replicated BMP shares the base
    # raster's dhash BY THE OPERATOR'S INVARIANCE (q111's argument), so
    # the oracle computes every hash once from the 8x18 seed bytes while
    # the engine must earn them through both real codecs at two scales.
    seed = (
        "CASE "
        "WHEN doc_id % 10 IN (6, 7) THEN 'xm' || CAST(doc_id // 10 AS VARCHAR) "
        "WHEN doc_id % 10 IN (1, 3) THEN 'bm' || CAST(doc_id // 10 AS VARCHAR) "
        "WHEN doc_id % 10 IN (2, 4) THEN 'hm' || CAST(doc_id // 10 AS VARCHAR) "
        "ELSE text END"
    )
    src = (
        "(SELECT doc_id AS media_id, "
        f"{_mint_raster_stream_sql(seed)} AS ras FROM documents)"
    )
    h = dhash_sql("ras", width=18, height=8).replace("__ras__", src)
    return f"""
WITH h AS (
  {h}
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.dh, b.dh)) AS INTEGER) AS hamming
FROM h a JOIN h b ON a.media_id < b.media_id
WHERE bit_count(xor(a.dh, b.dh)) <= 3
  AND (a.media_id % 2 = 1 OR b.media_id % 2 = 1)
"""


ORACLE_Q115 = _q115_oracle()


def _handcrafted_raster(flips: tuple[int, ...] = ()) -> str:
    """8x18x3 raster with cell-constant bytes whose dhash realizes a
    CHOSEN 64-bit pattern: dhash cell (y, x) is 1 px tall, 2 px wide and
    constant, so bit k = y*8+x is simply c[y][x] < c[y][x+1] — walk each
    row +-1 from 'A' per desired bit. Base pattern P0 = alternating
    bits; ``flips`` lists the bit indices to invert. This is how q116
    plants documents at EXACT pairwise hamming distances (something the
    md5 mints cannot do), e.g. two history docs at hamming 6 — distinct
    clusters under max_hamming 3 — bridged by a batch doc at hamming 3
    from each: the cross-cluster MERGE case. The same 432-char strings
    embed verbatim in the SQL oracle, which recomputes their hashes
    through dhash_sql like every other document's."""
    bits = [k % 2 == 0 for k in range(64)]
    for k in flips:
        bits[k] = not bits[k]
    rows = []
    for y in range(8):
        c = [65]
        for x in range(8):
            c.append(c[-1] + (1 if bits[y * 8 + x] else -1))
        rows.append("".join(chr(v) * 6 for v in c))
    return "".join(rows)


# The merge plant: 18/38 are HISTORY (even), 45 is BATCH (odd); all three
# sit in the q115 seed scheme's untouched class (doc_id % 10 in {5, 8}).
_Q116_SPECIALS = {
    18: _handcrafted_raster(()),                 # h1: base pattern
    38: _handcrafted_raster((0, 1, 2, 3, 4, 5)),  # h2: hamming 6 from h1
    45: _handcrafted_raster((0, 1, 2)),           # bridge: 3 from each
}


def q116_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KEEP-LIST maintenance — the last stage of the
    incremental crawl pipeline (`operators/cluster_store.py`): q115
    folds a batch's near-dup PAIRS out of the persisted fingerprint
    store; this query folds those pairs into persisted CLUSTER LABELS,
    so the keep-list a curation run applies is maintained in O(batch) —
    including the hard case, a batch document BRIDGING two
    previously-distinct history clusters, which must MERGE them without
    rewriting the corpus-wide label table (handled by the store's
    depth-1 redirect overlay).

    Corpus: the q115 media mint (even = history PNGs, odd = batch 2x
    BMPs, seed-shared twins) plus three handcrafted rasters: history
    docs 18 and 38 at dhash hamming 6 (distinct clusters) and batch doc
    45 at hamming 3 from each — after the fold all three must share one
    cluster rooted at 18. Engine: history hashes -> banded pairs ->
    `dedup_clusters` -> `build_cluster_store`; batch ->
    `update_fingerprint_index` -> `update_cluster_store`; serve
    `read_cluster_store` (one broadcast redirect join). The oracle
    recomputes every hash in SQL (handcrafted rasters embedded as
    literals), takes ALL pairs at hamming <= 3 over the full corpus, and
    replays the recursive transitive closure — a lost merge, a stale
    redirect chain, or a dropped singleton all break parity.

    100 TB: history is hashed once into the two stores; every later
    crawl batch pays one narrow hash stage, one partition-pruned pair
    join, one pruned label lookup, and a condensed-graph CC bounded by
    the clusters it touches."""
    import atexit
    import shutil
    import tempfile
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pincspark.operators.cluster_store import (
        build_cluster_store,
        read_cluster_store,
        update_cluster_store,
    )
    from pincspark.operators.dedup import (
        _spread,
        banded_hamming_pairs,
        dedup_clusters,
    )
    from pincspark.operators.fingerprint_index import (
        build_fingerprint_index,
        update_fingerprint_index,
    )
    from pincspark.operators.image_hash import decode_image_hashes
    from pincspark.operators.multimodal import bmp_encode, png_encode

    def _mint(parity: int):
        def _go(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                rows = []
                for row in pdf.itertuples(index=False):
                    d = int(row.doc_id)
                    if d % 2 != parity:
                        continue
                    if d in _Q116_SPECIALS:
                        stream = _Q116_SPECIALS[d]
                    else:
                        m = d % 10
                        if m in (6, 7):
                            seed = f"xm{d // 10}"
                        elif m in (1, 3):
                            seed = f"bm{d // 10}"
                        elif m in (2, 4):
                            seed = f"hm{d // 10}"
                        else:
                            seed = row.text
                        stream = _mint_raster_stream(seed)
                    ras = np.frombuffer(
                        stream.encode("ascii"), dtype=np.uint8
                    ).reshape(8, 18, 3)
                    if parity == 0:
                        blob = png_encode(
                            ras, d % 5, interlace=bool((d // 2) % 2)
                        )
                    else:
                        twin = ras.repeat(2, axis=0).repeat(2, axis=1)
                        blob = bmp_encode(twin)
                    rows.append((d, blob))
                yield pd.DataFrame(rows, columns=["media_id", "content"])

        return _go

    docs = _spread(
        table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )

    def _hashed(parity: int) -> DataFrame:
        media = docs.mapInPandas(
            _mint(parity), "media_id BIGINT, content BINARY"
        ).withColumn("kind", F.lit("image"))
        return decode_image_hashes(media, strict=True).select(
            "media_id", F.col("dhash").alias("fhash")
        )

    key = _ann_update_cache_key(spark, sf_dir, "documents")
    root = _Q116_CACHE.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix="pincspark_clusters_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        fpath, cpath = f"{root}/fp", f"{root}/cs"
        hist = _hashed(0)
        build_fingerprint_index(hist, fpath)
        hist_pairs = banded_hamming_pairs(
            hist, "media_id", "fhash", bits=64, bands=4, max_hamming=3,
            stage_label="q116:hist:banded",
        ).select("id_a", "id_b")
        labels = dedup_clusters(hist_pairs)
        singles = (
            hist.select(F.col("media_id").alias("node"))
            .join(labels.select("node"), "node", "left_anti")
            .withColumn("cluster_id", F.col("node"))
        )
        build_cluster_store(labels.unionByName(singles), cpath)
        batch = _hashed(1)
        bpairs = update_fingerprint_index(spark, batch, fpath)
        update_cluster_store(
            spark,
            bpairs,
            batch.select(F.col("media_id").alias("node")),
            cpath,
        )
        _Q116_CACHE[key] = root
    return (
        read_cluster_store(spark, f"{root}/cs")
        .select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            (F.col("cluster_id") == F.col("node")).alias("keep"),
        )
    )


_Q116_CACHE: dict[tuple, str] = {}


def _q116_oracle() -> str:
    from pincspark.operators.image_hash import dhash_sql

    seed = (
        "CASE "
        "WHEN doc_id % 10 IN (6, 7) THEN 'xm' || CAST(doc_id // 10 AS VARCHAR) "
        "WHEN doc_id % 10 IN (1, 3) THEN 'bm' || CAST(doc_id // 10 AS VARCHAR) "
        "WHEN doc_id % 10 IN (2, 4) THEN 'hm' || CAST(doc_id // 10 AS VARCHAR) "
        "ELSE text END"
    )
    specials = " ".join(
        f"WHEN doc_id = {d} THEN '{ras}'" for d, ras in _Q116_SPECIALS.items()
    )
    src = (
        f"(SELECT doc_id AS media_id, CASE {specials} "
        f"ELSE {_mint_raster_stream_sql(seed)} END AS ras FROM documents)"
    )
    h = dhash_sql("ras", width=18, height=8).replace("__ras__", src)
    return f"""
WITH RECURSIVE h AS (
  {h}
), allpairs AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b
  FROM h a JOIN h b ON a.media_id < b.media_id
  WHERE bit_count(xor(a.dh, b.dh)) <= 3
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM allpairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM allpairs
), walk(src, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.src
), comp AS (
  SELECT src AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY src
)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


ORACLE_Q116 = _q116_oracle()


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------
#
# ORDER MATTERS: the external correctness harness evaluates the first 50
# registered queries.  Window policy (VERDICT r5 #1): rotate RISK, not
# chronology, into the window — the 50 in-window slots go to the queries
# gating the highest-defect-risk code (hand-written codecs, custom
# operators), while queries implemented by a single native Spark call are
# registered LAST (still runnable and still parity-tested locally by
# tests/test_oracle_parity.py over the FULL catalog):
#   q10_distinct_users      -> distinct/count covered by q23, q26
#   q11_running_spend       -> running-sum window; same keyed-window operator
#                              family as in-window q08 (lead) + q13
#                              (row_number); demoted r6 for q60 (JPEG)
#   q12_top_spenders        -> global sort + top-k covered by q18, q40
#   q19_minhash_lsh         -> minhash_lsh_pairs exercised by q53 + q54
#   q20_ngram_jaccard       -> jaccard verify covered by q53 (LSH->verify)
#   q21_simhash             -> simhash covered by q43 (simhash pairs)
#   q26_approx_distinct     -> native countDistinct + approx_count_distinct
#                              calls; A1 stays in-window via q23 (demoted
#                              r6 for q61 FLAC)
#   q29_rollup_summary      -> native Spark `rollup` call, zero custom code
#                              to defend (demoted r6 for q57; VERDICT r5 #1)
#   q30_pivot_status        -> native Spark `pivot` call, ditto (for q58)
#   q44_deterministic_shards-> sharding exercised inside q54
#   q47_grouped_percentiles -> native `percentile` call (demoted r6 for q59)
# In-window newcomers r6: q57 (PNG decode — stdlib-zlib inflate + 5-filter
# reconstruction), q58 (GIF — from-scratch LZW), q59 (dup-span census),
# q60 (from-scratch baseline JPEG: Huffman + dequant + IDCT, replacing
# the demoted q11), q61 (from-scratch FLAC: Rice residuals + FIXED
# prediction + CRCs, replacing the demoted q26) — exactly the code a
# silent bug would hide in.
# r7 swap (VERDICT r6 #5): q62 (persistent IVF index SERVING path — the
# build-once/serve-many production shape with partition-pruned probes)
# replaces q22 (transient in-query IVF) in-window; the two are pinned
# row-identical in tests/test_ann_index.py and share the same oracle, so
# the served path gates strictly more code (index build + persistence +
# pruned load) than the transient one it subsumes.
# r8 rotation — risk decides the window, and the two highest-risk uncovered
# rows rotate IN:
#   q63 (VP8L/WebP — ~900 LoC of from-scratch prefix-code + transform
#     decode, never yet driver-gated) replaces q56 (PPM — an ASCII header
#     + raw bytes, the least codec code in the catalog; the mapInPandas
#     decode plumbing it shared stays gated by q57/q58/q60/q61/q63).
#   q64 (NEW: exact substring-span REMOVAL, the Lee et al. rewrite acting
#     on q59's census — new window+anti-join machinery this round)
#     replaces q04 (pure native filter/route projections; predicate
#     pushdown and routing stay plan-asserted in test_plans.py and every
#     other in-window query filters through the same scan path).
# r8 third wave — the round's two riskiest still-uncovered rows rotate in:
#   q71 (NEW: cross-snapshot incremental dedup — snapshot build + exact
#     fingerprint join + banded-LSH join against a persisted prior, all
#     new machinery this round) replaces q14 (a single fingerprint
#     window; exact dedup stays in-window as q54's second stage AND as
#     q71's own exact-fingerprint branch).
#   q67 (NEW: CCNet bigram-LM perplexity — the new operators/lm.py module:
#     staged count tables, add-alpha smoothing, OOV floor) replaces q16
#     (native split/size/array_distinct HOF calls; the ws-token machinery
#     q16 gated is exactly what q67's LM tokenizes with, and token-array
#     work stays in-window via q45's packing too).

# r9 rotation — RETIRE THE GATE DEBT (VERDICT r8 #1): the 14 catalog
# queries that have never had a driver row (the whole KMV/AKMV sketch
# tier, Bloom decontam, WARC/HTML ingest, DSIR/temperature/Z-order,
# funnel/cohort, constraint census, track QC, voyage stats) all rotate
# IN this round, so that by r9 close EVERY catalog query has >= 1 green
# driver row (union across the committed CORRECTNESS_r* history — now
# pinned by tests/test_plans.py::test_no_query_stays_driver_ungated).
# The 14 rotating OUT all carry a green r8 row and are the lowest-risk
# in-window shapes; each stays gated through a surviving subsumer:
#   q02_segment_revenue  -> native groupBy+join agg; the TPC-H shapes
#                           stay in-window via q01 (flagship) + q03
#   q07_latest_state     -> row_number latest-per-key (W2); the same
#                           keyed window builds q78's SCD2 current rows
#                           and q71's snapshot state, both in-window
#   q08_validity_intervals -> lead() validity windows (W1); q78's SCD2
#                           valid_from/valid_to build is the identical
#                           window, in-window
#   q15_text_quality     -> native HOF ratios; the quality stage runs
#                           in-window as q54 stage 1 (score >= 0.6 gate)
#   q25_hourly_windows   -> native time-window agg; event-time/watermark
#                           (ST6) stays pinned by the streaming suite,
#                           and windowed time bucketing rides in-window
#                           via q80's cohort weeks
#   q28_rolling_fingerprints -> rolling-hash HOF; content fingerprinting
#                           stays in-window via q59/q64 span hashes and
#                           q71's exact-fingerprint branch
#   q35_enum_descriptions -> 8 broadcast joins over literal enum tables;
#                           golden-tested locally (test_enums.py), and
#                           broadcast enrichment (J3/J4) stays in-window
#                           via q03
#   q39_pii_scrub        -> native regexp_replace chain, locally pinned
#   q40_vocab_bpe_pairs  -> pair explode + top-k; BPE train stays
#                           golden-pinned locally, two-phase top-k stays
#                           in-window via q51/q52/q55/q62
#   q41_quantized_knn    -> int8-quantized brute knn; the ANN family
#                           keeps three in-window gates (q51/q52/q62)
#                           plus q55's cosine phase
#   q46_interval_join    -> native range-join predicates; interval
#                           semantics stay in-window via q78 (SCD2
#                           as-of containment) and q86 (voyage spans)
#   q48_bm25_scores      -> q55 (in-window) computes the same BM25 over
#                           the same terms as its lexical phase
#   q53_lsh_verify       -> q54 (in-window) runs the identical
#                           LSH-propose -> exact-Jaccard-verify chain as
#                           stages 3-4 over the staged shingle arrays
#   q76_kmv_overlap      -> the KMV estimator core gains three FRESH
#                           in-window gates this round (q75 distinct /
#                           q83 join-size / q84 quantiles); overlap
#                           arithmetic stays parity-tested locally

QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "q01_pricing_summary": (q01_pricing_summary, ORACLE_Q01),
    "q06_asof_enrich": (q06_asof_enrich, ORACLE_Q06),
    # NEW r9 (in-window at registration, per the no-ungated-query policy;
    # q17_lang_id rotates out to make room — pure-SQL n-gram scoring with
    # a green r8 row, text scoring stays in-window via q38 + q54 stage 1):
    # compaction row-identity through the physical rewrite (VERDICT r8 #3)
    "q87_compaction_identity": (q87_compaction_identity, ORACLE_Q87),
    # NEW r10 (in-window at registration; q23_zone_occupancy rotates out —
    # green r9 row; q91 exercises the SAME minted points + codegen PIP
    # predicate per-row and is strictly stronger on the geo machinery:
    # the order-sensitive entry/exit state machine vs q23's
    # order-insensitive counts; the native distinct-vessel agg stays
    # gated via q10/q75): ST2-batch zone transitions
    "q91_zone_transitions": (q91_zone_transitions, ORACLE_Q91),
    # NEW r11 (in-window at registration; q24_nmea_validate rotates out —
    # green r10 row, re-simmed on current code, and the most-subsumed row
    # in the window: its P1 tokenize / P2 checksum / F5 validity surfaces
    # are all independently gated by q88's reassembly-contract oracle,
    # which reimplements tokenize+checksum+sequence validation in SQL):
    # co-located bucketed fact join — zero join-time exchange, results
    # pinned against a plain DuckDB join
    "q93_bucketed_join": (q93_bucketed_join, ORACLE_Q93),
    "q27_embedding_dups": (q27_embedding_dups, ORACLE_Q27),
    "q31_position_decode_sql": (q31_position_decode_sql, ORACLE_Q31),
    # NEW r10 (in-window at registration; q32_static_voyage_sql rotates
    # out — green r9 row, golden-pinned locally, and the decode SQL-twin
    # tier keeps four in-window gates (q31/q33/q34/q49) plus q50's
    # DAC533 egress; type-5 voyage decode also rides the flagship's
    # static frame): iterative integer PageRank over a minted citation
    # graph — the first ITERATIVE graph algorithm with a bit-exact
    # value-hash oracle (3 unrolled power iterations in BIGINT)
    "q90_link_authority": (q90_link_authority, ORACLE_Q90),
    "q33_classb_longrange_sql": (q33_classb_longrange_sql, ORACLE_Q33),
    "q34_static_report_sql": (q34_static_report_sql, ORACLE_Q34),
    # NEW r12 (in-window at registration; q79_funnel rotates out — green
    # r10+r11 rows, re-simmed on current code; its ordered-window funnel
    # shape stays gated in-window via q78's SCD2 windows, q89's two-phase
    # top-K windows, and q84's window tier): base station (4) / SAR (9) /
    # interrogation (15) / assignment (16) / DGNSS (17) decoded in one
    # CASE-routed scan — upgrades coverage rows P8/P12/P14/P15/P16 from
    # local-golden to hard driver gates
    "q94_aux_families_sql": (q94_aux_families_sql, ORACLE_Q94),
    # NEW r12 (in-window at registration; q86_voyage_stats rotates out —
    # green r10+r11 rows, re-simmed on current code; its native group-agg
    # + window shape stays gated in-window via q01's grouped aggregates
    # and q85's track-QC windows): safety text (12/14) / extended Class B
    # (19) / AtoN (21) in one CASE-routed scan — with q94 this retires
    # the last local-only decode families (P13/P18/P19)
    "q95_text_families_sql": (q95_text_families_sql, ORACLE_Q95),
    "q37_decontamination": (q37_decontamination, ORACLE_Q37),
    # NEW r12 (in-window at registration; q38_repetition_rules rotates
    # out — green r10+r11 rows, re-simmed on current code; a zero-shuffle
    # native HOF scorer whose text-quality surface stays in-window as
    # q54's stage-1 quality gate): distributed total ordering — the
    # two-phase global rank (range partition + local stamp + count prefix
    # sum + broadcast offsets) pinned against DuckDB's single-window
    # row_number, NEW custom machinery in operators/order.py
    "q99_global_rank": (q99_global_rank, ORACLE_Q99),
    # NEW r13 (in-window at registration; q42_dedup_keep_list rotates
    # out — green r7-r12 rows; q109 CONTAINS q42's entire pairs->
    # components->root construction as its first stages, so every
    # shuffle q42 gated still runs under a hard oracle — the q64-
    # subsumes-q59 precedent): near-dup-cluster-aware holdout split,
    # the leakage guard a row- or user-level split cannot give
    "q109_cluster_holdout": (q109_cluster_holdout, ORACLE_Q109),
    # NEW r14 (in-window at registration; q43_simhash_pairs rotates out —
    # green r1-r13 rows; the Hamming-ball LSH banding q43 gated now runs
    # IN-WINDOW through this query (simhash_hamming_pairs delegates to
    # the same banded_hamming_pairs), and q111 gates strictly more on
    # top: the from-scratch PNG + BMP codecs feeding an exact-integer
    # perceptual dhash, the 2x-rescale/re-encode invariance, and a
    # BRUTE-FORCE all-pairs oracle instead of q43's banding-mirror one.
    # q43's unique residue — the simhash fingerprint fold itself — stays
    # parity-tested over the full catalog (q21 + q43 in
    # tests/test_oracle_parity.py) and golden-pinned locally.
    "q111_image_neardup": (q111_image_neardup, ORACLE_Q111),
    # NEW r13 (in-window at registration; q49_weather_decode_sql rotates
    # out — green r9-r12 rows; the decode SQL-twin tier keeps SIX
    # in-window gates on the same bit-slice kernel and CASE routing
    # (q31/q33/q34/q50/q94/q95), and the DAC1/FID31 weather fields ride
    # q50's type-6/type-8 egress path): exact set-similarity join via
    # prefix filtering — the zero-false-negative dedup complement to the
    # in-window LSH chain, gated by a BRUTE-FORCE all-pairs oracle
    "q106_exact_similarity_join": (q106_exact_similarity_join, ORACLE_Q106),
    "q50_type6_egress": (q50_type6_egress, ORACLE_Q50),
    # NEW r14 (in-window at registration; q51_pq_topk rotates out — green
    # r1-r13 rows; its PQ codebook/ADC machinery runs in-window COMPOSED
    # inside q52, which shares pq_codebooks + the ADC lookup): incremental
    # IVF index maintenance — build on half the corpus, fold the other
    # half with frozen centroids + parquet append, serve; the oracle
    # replays full-corpus assignment against the frozen half-corpus
    # centroids, so a retrain or a lost/duplicated posting breaks parity
    "q112_ann_index_update": (q112_ann_index_update, ORACLE_Q112),
    "q52_ivfpq_topk": (q52_ivfpq_topk, ORACLE_Q52),
    "q54_curation_pipeline": (q54_curation_pipeline, ORACLE_Q54),
    "q55_hybrid_retrieval": (q55_hybrid_retrieval, ORACLE_Q55),
    # NEW r11 (in-window at registration; q57_png_decode rotates out —
    # green r10 row, re-simmed on current code; the codec tier keeps four
    # in-window gates (q60 JPEG / q61 FLAC / q63 WebP-VP8L / q65 TIFF) on
    # the same mapInPandas Arrow plumbing, q63 exercises the same
    # predictor+entropy image-decode shape, and PNG itself stays golden-
    # and ImageIO-cross-validated in test_png.py + the cross-impl suite):
    # native session_window gap sessions with an independent LAG+running-
    # session-id SQL oracle — the last local-only family (ST6 session
    # tier) with an SQL-expressible twin gains a hard driver gate
    # NEW r13 (in-window at registration; q92_session_windows rotates
    # out — green r11+r12 rows, re-simmed on current code, and a NATIVE
    # session_window call (the lowest-risk class by the r5 window
    # policy); gap-session semantics stay sweep-gated via q13's
    # LAG+running-id form and ST6 event-time machinery stays pinned by
    # the streaming suite + q25's windowed aggs): gap-aware track
    # resampling — fixed-grid linear interpolation between fixes, the
    # coordinates hash-gated bit-for-bit with NO rounding crutch
    "q108_track_resample": (q108_track_resample, ORACLE_Q108),
    # NEW r10 (in-window at registration; q58_gif_decode rotates out — the
    # codec tier keeps five in-window gates (q57/q60/q61/q63/q65) sharing
    # the same mapInPandas plumbing, and GIF/LZW stays golden- and
    # ImageIO-cross-validated locally): ST1-batch reassembly contract,
    # the one streaming-twinned operator that had no hard oracle row
    # (VERDICT r9 #4)
    "q88_reassembly_contract": (q88_reassembly_contract, ORACLE_Q88),
    # NEW r13 (in-window at registration; q59_dup_spans rotates out —
    # green r6-r12 rows, the longest-gated row in the window, and the
    # strongest subsumer in the catalog: in-window q64_span_removal
    # CONSUMES the q59 census as its input stage, so every span-hash
    # shuffle q59 gated still runs under a hard oracle every round):
    # mergeable log-binned quantile sketch — integer-exact HDR bins,
    # part-sketch fold in the gated path, merge == rebuild pinned by an
    # oracle that bins the raw table directly
    "q105_hdr_quantiles": (q105_hdr_quantiles, ORACLE_Q105),
    "q60_jpeg_decode": (q60_jpeg_decode, ORACLE_Q60),
    "q61_flac_decode": (q61_flac_decode, ORACLE_Q61),
    "q62_ivf_index_topk": (q62_ivf_index_topk, ORACLE_Q22),
    "q63_webp_decode": (q63_webp_decode, ORACLE_Q57),
    "q64_span_removal": (q64_span_removal, ORACLE_Q64),
    # NEW r13 (in-window at registration; q65_tiff_decode rotates out —
    # green r8-r12 rows, re-simmed on current code; the codec tier keeps
    # THREE in-window gates spanning its risk classes (q60 JPEG:
    # Huffman+IDCT image, q61 FLAC: Rice/LPC audio, q63 WebP-VP8L:
    # prefix-code image) on the same mapInPandas Arrow plumbing, and
    # TIFF stays golden- and ImageIO-cross-validated locally — the
    # q57/q58 rotation precedent): incremental text-index maintenance —
    # the update fold must reproduce the full-corpus build bit-for-bit
    # under the q48 oracle
    "q107_text_index_update": (q107_text_index_update, ORACLE_Q48),
    "q66_semantic_dedup": (q66_semantic_dedup, ORACLE_Q66),
    "q67_lm_perplexity": (q67_lm_perplexity, ORACLE_Q67),
    "q71_incremental_dedup": (q71_incremental_dedup, ORACLE_Q71),
    # NEW r12 (in-window at registration; q77_url_canonicalize rotates
    # out — green r10/r11 rows, re-simmed on current code; a native
    # regexp_replace/parse_url-style chain whose string machinery stays
    # in-window via q73's WARC splits and q74's HTML extraction): exact
    # frequent items through per-partition Misra-Gries candidates + exact
    # recount — the frequency-sketch tier joins the KMV distinct tier
    "q98_heavy_hitters": (q98_heavy_hitters, ORACLE_Q98),
    # NEW r10 (in-window at registration; q03_region_enrich rotates out —
    # a native broadcast-equi enrichment with a green r9 row; broadcast
    # enrichment stays exercised in-window via q71's snapshot joins and
    # q55's dimension joins, and q03 stays full-catalog parity-tested):
    # per-domain document cap through the skew-safe two-phase top-K
    # NEW r13 (in-window at registration; q89_domain_cap rotates out —
    # green r10-r12 rows, re-simmed on current code; its two-phase
    # per-group top-K shape stays exercised in-window by q51/q52's
    # partition-pre-ranked top-k and q99's two-phase global rank, and
    # the per-domain cap itself is one CASE stage of in-window q54):
    # ingest quarantine census — the reason-coded account of every
    # dropped line the reference discards silently; the diagnosability
    # twin of q88's emitted-rows contract
    "q110_ingest_census": (q110_ingest_census, ORACLE_Q110),
    "q78_scd2_history": (q78_scd2_history, ORACLE_Q78),
    "q81_fuzzy_pairs": (q81_fuzzy_pairs, ORACLE_Q81),
    # --- r9 gate-debt retirement: the 14 never-driver-gated rows ---
    # NEW r15 (in-window at registration; q68_dsir_weights rotates out —
    # green r11-r14 rows; the lm.py count-table staging + spread
    # machinery it shares with q67 stays hard-gated in-window via q67,
    # and the DSIR importance-ratio arithmetic stays full-catalog
    # parity-tested): incremental cluster-store maintenance — q115's
    # batch pairs fold into PERSISTED cluster labels
    # (operators/cluster_store.py), including the cross-cluster-merge
    # case planted via handcrafted exact-hamming rasters; the oracle
    # replays the full recursive closure over every pair
    "q116_incremental_clusters": (
        q116_incremental_clusters,
        ORACLE_Q116,
    ),
    # NEW r12 (in-window at registration; q69_temperature_sample rotates
    # out — green r10/r11 rows, re-simmed on current code; its
    # sample_hash filter machinery is freshly in-window via q100, and the
    # per-source rate arithmetic stays parity-tested locally): sequence
    # assembly — each user's deterministically-ordered event journey
    # (array_sort over collected structs, NOT the non-deterministic
    # collect_list-over-frame), the event-log-to-training-example step
    # NEW r14 (in-window at registration; q102_user_journeys rotates out
    # — green r12+r13 rows; its native array_sort/collect shape is the
    # LOWEST-risk class in the window, and deterministic sequence
    # assembly stays gated via q45's packing and q101's ordered frames):
    # perceptual AUDIO near-dup — FLAC + 3x-gain AU twins decoded onto
    # one gain/container-invariant energy-contour hash, third consumer
    # of the q43/q111 banding, brute-force all-pairs oracle
    "q113_audio_neardup": (q113_audio_neardup, ORACLE_Q113),
    # NEW r12 (in-window at registration; q70_zorder_layout rotates out —
    # green r9/r10/r11 rows, re-simmed on current code; the layout tier
    # keeps q87's physical-rewrite identity in-window, partition/files
    # pruning stays gated via q62 and q104 itself, and the Z-order
    # interleave keeps its files-read proof in tests/test_layout.py):
    # persistent inverted-index BM25 serving — build-once/serve-many with
    # term-bucket partition pruning, row-identical to the transient q48
    # and sharing its oracle
    "q104_text_index_bm25": (q104_text_index_bm25, ORACLE_Q48),
    "q72_bloom_decontam": (q72_bloom_decontam, ORACLE_Q72),
    "q73_warc_extract": (q73_warc_extract, ORACLE_Q73),
    "q74_html_extract": (q74_html_extract, ORACLE_Q74),
    # NEW r12 (in-window at registration; q75_kmv_distinct rotates out —
    # green r9/r10/r11 rows, re-simmed on current code; the KMV estimator
    # core keeps two in-window gates via q83 join-size + q84 quantiles,
    # NEW r15 (in-window at registration; q100_holdout_split rotates
    # out — green r12-r14 rows; its md5-CASE split machinery stays
    # hard-gated in-window through q109's cluster-aware holdout, which
    # composes the same sampling draw): incremental perceptual dedup —
    # a NEW media batch folds into a persisted (band,slice)-partitioned
    # fingerprint store (operators/fingerprint_index.py), emitting
    # batch-vs-history + batch-vs-batch pairs via partition-pruned
    # joins; history files path+mtime untouched; oracle is brute-force
    # over old ∪ batch restricted to pairs touching the batch
    "q115_fingerprint_index_update": (
        q115_fingerprint_index_update,
        ORACLE_Q115,
    ),
    # NEW r12 (in-window at registration; q80_cohort_retention rotates
    # out — green r9/r10/r11 rows, re-simmed on current code; a native
    # date-trunc window agg whose cohort/window shapes stay in-window via
    # q78's SCD2 windows, q84's window tier and q92's session windows):
    # degree-oriented exact triangle counting over the densified q90
    # citation graph — the second iterative-graph-tier hard gate
    "q97_triangles": (q97_triangles, ORACLE_Q97),
    # NEW r12 (in-window at registration; q82_constraint_census rotates
    # out — green r9/r10/r11 rows, re-simmed on current code; a native
    # filter/agg census whose agg shapes stay in-window via q01/q84):
    # bounded-frame sliding stats — the trailing-window rolling-feature
    # shape no other catalog window covers (q11 is unbounded-preceding,
    # q13/q92 are gap sessions), with the DECIMAL-exact frame sum
    # NEW r14 (in-window at registration; q101_moving_stats rotates out —
    # green r12+r13 rows; a native bounded-frame window call, and the
    # window-frame tier keeps q11-family coverage sweep-side): the
    # CROSS-MODAL near-dup keep-list capstone — text MinHash + image
    # dhash + audio contour pairs union into one connected-component
    # keep-list; the oracle replays all three pair sets AND the
    # recursive closure, so any tier or the union seam breaks parity
    "q114_multimodal_keeplist": (q114_multimodal_keeplist, ORACLE_Q114),
    # NEW r12 (in-window at registration; q83_kmv_join_size rotates out —
    # green r9/r10/r11 rows, re-simmed on current code; the KMV core
    # stays in-window via q84's bottom-k quantiles and the join-size
    # composition is parity-tested locally): count-min frequency sketch —
    # the mergeable frequency estimator completing the sketch family,
    # BIGINT cell arithmetic pinned exactly by the oracle
    "q103_cms_frequency": (q103_cms_frequency, _q103_oracle()),
    "q84_sample_quantiles": (q84_sample_quantiles, ORACLE_Q84),
    # NEW r12 (in-window at registration; q85_track_qc rotates out — green
    # r9/r10/r11 rows, re-simmed on current code; q96 consumes the SAME
    # synthetic fixes and rounded-BIGINT haversine kernel and is strictly
    # stronger on the geo-distance tier: bucketed dedup window + grid-cell
    # self-join + pair aggregation on top of the identical distance
    # discipline): vessel pair-proximity encounters via the space-time
    # bucketed self-join — the vessel-vs-vessel analytic the reference's
    # zone machinery never asks
    "q96_encounters": (q96_encounters, ORACLE_Q96),
    # --- demoted past the 50-query harness window (see r9 note above;
    # every query below this line has >= 1 green driver row in the
    # committed CORRECTNESS_r* history and stays parity-tested over the
    # FULL catalog by tests/test_oracle_parity.py) ---
    # rotated out r12 for q94 (aux decode families): native ordered-
    # window funnel over events, green r10+r11 rows; the window tier
    # stays gated in-window via q78/q84/q89
    "q79_funnel": (q79_funnel, ORACLE_Q79),
    # rotated out r15 for q115 (incremental fingerprint index): green
    # r12-r14 rows; leakage-safe group-holdout split whose md5-CASE draw
    # stays hard-gated in-window through q109's cluster-aware holdout
    # (sampling.group_holdout_split is the same code path)
    "q100_holdout_split": (q100_holdout_split, _q100_oracle()),
    # rotated out r15 for q116 (incremental cluster store): green
    # r11-r14 rows; the lm.py count-table staging + conditional-spread
    # machinery stays hard-gated in-window via q67 (same code path);
    # DSIR's importance-ratio arithmetic stays parity-tested here
    "q68_dsir_weights": (q68_dsir_weights, ORACLE_Q68),
    # rotated out r14 for q111 (image perceptual near-dup): green r1-r13
    # rows; its banded Hamming-pair machinery now runs in-window through
    # q111 (same banded_hamming_pairs code path), and the simhash fold
    # stays full-catalog parity-tested here + via q21
    "q43_simhash_pairs": (q43_simhash_pairs, ORACLE_Q43),
    # rotated out r14 for q112 (incremental ANN index maintenance): green
    # r1-r13 rows; the PQ codebook build + ADC scoring stay in-window
    # composed inside q52 (same pq_codebooks / lookup-table code path)
    "q51_pq_topk": (q51_pq_topk, ORACLE_Q51),
    # rotated out r14 for q113 (audio perceptual near-dup): green r12+r13
    # rows; native array_sort-over-collected-structs assembly, the
    # lowest-risk class in the window — sequence building stays gated
    # via q45 (packing) and q101 (ordered frames)
    "q102_user_journeys": (q102_user_journeys, ORACLE_Q102),
    # rotated out r14 for q114 (cross-modal keep-list): green r12+r13
    # rows; native bounded-frame window call (sum/avg over a trailing
    # frame), the next-lowest-risk class after q102
    "q101_moving_stats": (q101_moving_stats, ORACLE_Q101),
    # rotated out r12 for q95 (text decode families): native group-agg +
    # window voyage rollup, green r10+r11 rows; the native agg tier
    # stays gated in-window via q01 and q85
    "q86_voyage_stats": (q86_voyage_stats, ORACLE_Q86),
    # rotated out r12 for q96 (encounters): green r9/r10/r11 rows; q96
    # consumes the same synthetic fixes + rounded haversine kernel and
    # gates strictly more geo machinery (see the q96 registration note)
    "q85_track_qc": (q85_track_qc, ORACLE_Q85),
    # rotated out r12 for q97 (triangles): green r9/r10/r11 rows; native
    # date-trunc cohort agg, window/agg tier stays via q78/q84/q92
    "q80_cohort_retention": (q80_cohort_retention, ORACLE_Q80),
    # rotated out r12 for q98 (heavy hitters): green r10/r11 rows; native
    # regex chain, string tier stays via q73/q74
    "q77_url_canonicalize": (q77_url_canonicalize, ORACLE_Q77),
    # rotated out r12 for q99 (global rank): green r10+r11 rows; native
    # zero-shuffle HOF repetition scorer, text quality stays in-window as
    # q54's stage-1 gate
    "q38_repetition_rules": (q38_repetition_rules, ORACLE_Q38),
    # rotated out r12 for q100 (holdout split): green r9/r10/r11 rows;
    # the KMV core stays in-window via q83/q84
    "q75_kmv_distinct": (q75_kmv_distinct, ORACLE_Q75),
    # rotated out r12 for q101 (moving stats): green r9/r10/r11 rows;
    # native filter/agg census, agg tier stays via q01/q84
    "q82_constraint_census": (q82_constraint_census, ORACLE_Q82),
    # rotated out r12 for q102 (user journeys): green r10/r11 rows; the
    # hash-filter draw stays in-window via q100, rates parity-tested
    # locally
    "q69_temperature_sample": (q69_temperature_sample, ORACLE_Q69),
    # rotated out r12 for q103 (CMS frequency): green r9/r10/r11 rows;
    # the KMV core stays in-window via q84, join-size composition
    # parity-tested locally
    "q83_kmv_join_size": (q83_kmv_join_size, ORACLE_Q83),
    # rotated out r12 for q104 (text-index serving): green r9/r10/r11
    # rows; layout identity stays in-window via q87, pruning via
    # q62/q104, Z-order files-read proof local
    "q70_zorder_layout": (q70_zorder_layout, ORACLE_Q70),
    "q02_segment_revenue": (q02_segment_revenue, ORACLE_Q02),
    # rotated out r10 for q89 (domain cap): native broadcast-equi
    # enrichment, green r9 row; see the q89 registration note
    "q03_region_enrich": (q03_region_enrich, ORACLE_Q03),
    "q04_event_route": (q04_event_route, ORACLE_Q04),
    "q05_json_props": (q05_json_props, ORACLE_Q05),
    "q07_latest_state": (q07_latest_state, ORACLE_Q07),
    "q08_validity_intervals": (q08_validity_intervals, ORACLE_Q08),
    "q09_union_normalize": (q09_union_normalize, ORACLE_Q09),
    "q10_distinct_users": (q10_distinct_users, ORACLE_Q10),
    "q11_running_spend": (q11_running_spend, ORACLE_Q11),
    "q12_top_spenders": (q12_top_spenders, ORACLE_Q12),
    "q13_sessionize": (q13_sessionize, ORACLE_Q13),
    "q14_dedup_exact": (q14_dedup_exact, ORACLE_Q14),
    "q15_text_quality": (q15_text_quality, ORACLE_Q15),
    "q16_token_stats": (q16_token_stats, ORACLE_Q16),
    # rotated out r9 for q87 (compaction identity): pure-SQL n-gram
    # language scoring, green r8 row, locally parity-tested; the text
    # scoring tier stays in-window via q38 and q54's quality stage
    "q17_lang_id": (q17_lang_id, ORACLE_Q17),
    "q18_knn_cosine": (q18_knn_cosine, ORACLE_Q18),
    "q19_minhash_lsh": (q19_minhash_lsh, ORACLE_Q19),
    "q20_ngram_jaccard": (q20_ngram_jaccard, ORACLE_Q20),
    "q21_simhash": (q21_simhash, ORACLE_Q21),
    "q22_ivf_topk": (q22_ivf_topk, ORACLE_Q22),
    "q25_hourly_windows": (q25_hourly_windows, ORACLE_Q25),
    "q26_approx_distinct": (q26_approx_distinct, ORACLE_Q26),
    "q28_rolling_fingerprints": (q28_rolling_fingerprints, ORACLE_Q28),
    "q29_rollup_summary": (q29_rollup_summary, ORACLE_Q29),
    "q30_pivot_status": (q30_pivot_status, ORACLE_Q30),
    "q35_enum_descriptions": (q35_enum_descriptions, ORACLE_Q35),
    "q36_stratified_sample": (q36_stratified_sample, ORACLE_Q36),
    "q39_pii_scrub": (q39_pii_scrub, ORACLE_Q39),
    "q40_vocab_bpe_pairs": (q40_vocab_bpe_pairs, ORACLE_Q40),
    "q41_quantized_knn": (q41_quantized_knn, ORACLE_Q41),
    "q44_deterministic_shards": (q44_deterministic_shards, ORACLE_Q44),
    "q45_pack_sequences": (q45_pack_sequences, ORACLE_Q45),
    "q46_interval_join": (q46_interval_join, ORACLE_Q46),
    "q47_grouped_percentiles": (q47_grouped_percentiles, ORACLE_Q47),
    "q48_bm25_scores": (q48_bm25_scores, ORACLE_Q48),
    "q53_lsh_verify": (q53_lsh_verify, ORACLE_Q53),
    "q56_media_decode": (q56_media_decode, ORACLE_Q56),
    # rotated out r10 for q90 (link authority): type-5 voyage SQL twin,
    # green r9 row; see the q90 registration note
    "q32_static_voyage_sql": (q32_static_voyage_sql, ORACLE_Q32),
    # rotated out r10 for q91 (zone transitions): PIP occupancy counts,
    # green r9 row; see the q91 registration note
    "q23_zone_occupancy": (q23_zone_occupancy, ORACLE_Q23),
    # rotated out r10 for q88 (reassembly contract): green r9 row; see
    # the q88 registration note for the codec-tier subsumption
    "q58_gif_decode": (q58_gif_decode, ORACLE_Q58),
    # rotated out r11 for q92 (session windows): green r10 row, re-simmed
    # on current code; see the q92 registration note for the codec-tier
    # subsumption (q60/q61/q63/q65 stay in-window)
    "q57_png_decode": (q57_png_decode, ORACLE_Q57),
    # rotated out r11 for q93 (bucketed join): green r10 row, re-simmed
    # on current code; see the q93 registration note (P1/P2/F5 all gated
    # by q88's independent SQL contract)
    "q24_nmea_validate": (q24_nmea_validate, ORACLE_Q24),
    "q76_kmv_overlap": (q76_kmv_overlap, ORACLE_Q76),
    # rotated out r13 for q105 (HDR quantile sketch): green r6-r12 rows;
    # the span census stays hard-gated in-window as q64_span_removal's
    # input stage (same span-hash shuffle, same normalizer)
    "q59_dup_spans": (q59_dup_spans, ORACLE_Q59),
    # rotated out r13 for q106 (exact similarity join): green r9-r12
    # rows; see the q106 registration note (decode tier keeps six
    # in-window gates)
    "q49_weather_decode_sql": (q49_weather_decode_sql, ORACLE_Q49),
    # rotated out r13 for q107 (text-index update): green r8-r12 rows;
    # see the q107 registration note (codec tier keeps q60/q61/q63)
    "q65_tiff_decode": (q65_tiff_decode, ORACLE_Q57),
    # rotated out r13 for q108 (track resampling): green r11+r12 rows;
    # see the q108 registration note (native session_window call)
    "q92_session_windows": (q92_session_windows, ORACLE_Q92),
    # rotated out r13 for q109 (cluster holdout): green r7-r12 rows; its
    # entire construction runs inside in-window q109 (see that note)
    "q42_dedup_keep_list": (q42_dedup_keep_list, ORACLE_Q42),
    # rotated out r13 for q110 (ingest census): green r10-r12 rows; see
    # the q110 registration note (two-phase top-K shape stays gated)
    "q89_domain_cap": (q89_domain_cap, ORACLE_Q89),
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in QUERIES.items() if sql is not None}
