"""Raw NMEA archive source (S1) + batch multi-part reassembly (ST1-batch)
+ tag-block timestamp extraction (P27).

Reference behavior re-expressed:
- ais_analysis.py:318-340 reads a day's Datalog file, splits lines, strips
  the tag-block prefix before '!';
- ais_analysis.py:384-388 parses the epoch from the tag block's ``c:`` field;
- ais_ingressServer.py:84-106 buffers fragments until the group completes,
  validating monotonic package numbers / constant package id;
- ais_analysis.py:266-288 drops groups with checksum or sequence errors.

The archive scan, the streaming chain and q88 split the tag block off
with the one :func:`split_tagblock` helper.

Batch grouping trick: multi-part fragments are adjacent lines, so
``line_idx - (num - 1)`` is constant within a group — grouping on that key
plus seq id reassembles without any stateful pass. Singletons (total == 1,
the overwhelming majority of AIS traffic) bypass the shuffle entirely on a
narrow branch; ONE shuffle carries only the multi-part sliver, and a
boundary-repair pass rescues the groups an input split cut in two.

Staging goes through ``pincspark.staging.stage`` only, which records each
pre-checkpoint plan for ``planhooks.capture_staged_plans`` audits: the
validated tokenized frame (three consumers) and, when the caller fans out,
the decoded frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pincspark.decode.kernel import checksum_valid
from pincspark.staging import stage


def split_tagblock(lines: DataFrame, *keep: str) -> DataFrame:
    """Split each raw line (column ``value``) at its first '!' into
    ``tagblock`` and ``sentence``; lines without a '!' drop. ``keep``
    columns pass through ahead of the two."""
    return (
        lines.withColumn("bang", F.instr(F.col("value"), "!"))
        .filter(F.col("bang") > 0)
        .select(
            *keep,
            F.expr("substring(value, 1, bang - 1)").alias("tagblock"),
            F.expr("substring(value, bang, 1000000)").alias("sentence"),
        )
    )


def read_archive(spark: SparkSession, path: str) -> DataFrame:
    """S1: read a Datalog archive text file into (line_idx, tagblock,
    sentence) rows.

    ``line_idx`` is ``monotonically_increasing_id`` used RAW: it is
    consecutive within each input split, which is all the adjacency group
    key needs — a global ``row_number()`` window here would funnel the
    entire archive through one task (the 100-TB anti-pattern). A
    multi-part group cut by a split boundary is rejoined by
    :func:`reassemble`'s repair pass.
    """
    raw = spark.read.text(path).filter(F.col("value") != "")
    return split_tagblock(
        raw.withColumn("line_idx", F.monotonically_increasing_id()), "line_idx"
    )


def with_tagblock_ts(df: DataFrame, tagblock: str = "tagblock") -> DataFrame:
    """P27: event-time from the tag block's ``c:<epoch-seconds>`` field."""
    epoch = F.regexp_extract(F.col(tagblock), r"c:(\d+)", 1)
    return df.withColumn(
        "ts",
        F.when(epoch != "", F.timestamp_seconds(epoch.cast("bigint"))),
    )


def tokenize_sentences(df: DataFrame, sentence: str = "sentence") -> DataFrame:
    """P1: split the VDM sentence into its comma fields (pure SQL)."""
    parts = F.split(F.col(sentence), ",")
    # try_cast: empty fields (e.g. blank seq id) become defaults, and ANSI
    # mode must not abort the scan on malformed garbage lines.
    return (
        df.withColumn("package_type", parts.getItem(0))
        .withColumn("total", F.coalesce(parts.getItem(1).try_cast("int"), F.lit(1)))
        .withColumn("num", F.coalesce(parts.getItem(2).try_cast("int"), F.lit(1)))
        .withColumn(
            "seq_id",
            F.coalesce(parts.getItem(3).try_cast("int"), F.lit(0)),
        )
        .withColumn("channel", parts.getItem(4))
        .withColumn("payload", parts.getItem(5))
        .withColumn(
            "fill",
            F.coalesce(
                F.split(parts.getItem(6), "\\*").getItem(0).try_cast("int"), F.lit(0)
            ),
        )
    )


# monotonically_increasing_id layout: partition index in the upper 31 bits,
# per-partition row offset in the lower 33 (the adjacency key relies on the
# offset being consecutive within a split; the repair pass relies on the
# partition index for its split-boundary check).
_MI_OFFSET_MASK = (1 << 33) - 1


def _emit_groups(grouped: DataFrame) -> DataFrame:
    """Grouped fragment frames -> one row per validated complete message:
    exactly ``total`` fragments numbered 1..total (the reference's sequence
    check, ais_ingressServer.py:95-101), payloads concatenated in order."""
    return (
        grouped.filter(F.col("n_frags") == F.col("total"))
        .filter(
            F.expr(
                "forall(zip_with(frags.num, sequence(1, total), (a, b) -> a = b), x -> x)"
            )
        )
        .select(
            F.col("frags").getItem(0).getField("tagblock").alias("tagblock"),
            F.col("frags").getItem(0).getField("ts").alias("ts"),
            F.col("seq_id"),
            F.col("total").alias("n_sentences"),
            F.expr("array_join(frags.payload, '')").alias("payload"),
        )
    )


def reassemble(df: DataFrame, materialize: bool = True) -> DataFrame:
    """ST1-batch: validate checksums, group adjacent fragments, emit one row
    per complete message group with the concatenated payload.

    Drops (like the reference, ais_analysis.py:266-288): checksum failures,
    incomplete groups, groups whose fragment numbers are not exactly
    1..total with a constant seq id.

    Boundary repair: the adjacency key (``line_idx - (num-1)``) is only
    consecutive WITHIN an input split, so a multi-part group cut by a
    split boundary first lands as two incomplete halves. The repair pass
    re-groups ONLY those leftovers (a handful of fragments per boundary,
    thousands of rows at 100 TB, not billions) globally per
    (seq_id, total) with a num==1-starts-a-group running session over the
    line order — rescuing boundary groups without ever funneling the full
    archive through one task.

    A repaired group must be exactly what the single-split adjacency pass
    would have produced had the file not been cut: its fragments come from
    exactly TWO adjacency keys, the second run starts at row offset 0 of
    the NEXT input split, and each run is internally adjacent (which the
    shared key already guarantees). AIS seq ids cycle 0-9, so without this
    guard an orphan fragment 1 of one message and an orphan fragment 2 of
    an unrelated one (partners lost to checksum errors) could be spliced
    into a fabricated message that the reference — one unsplit stream —
    would drop.

    ``materialize``: the singleton bypass, the grouped branch, and the
    repair branch are three consumers of the validated tokenized frame,
    and Spark re-executes the archive scan per consumer (common-subtree
    reuse is not guaranteed across the union). Staging that frame once
    scans the archive exactly once regardless of how many frames fan out
    above. Pass False for tiny in-memory inputs whose plan should stay
    lazy.
    """
    # Project to exactly what reassembly consumes BEFORE staging: the raw
    # sentence (the widest column) never leaves the scan stage.
    valid = df.filter(checksum_valid(F.col("sentence"))).select(
        "line_idx", "tagblock", "ts", "seq_id", "total", "num", "payload"
    )
    if materialize:
        # eager=False: the first action over the union materializes the
        # staged frame in-job (no separate job barrier); later consumers
        # in the same and subsequent actions read the stored blocks.
        valid = stage(valid, "reassemble:valid", eager=False)
    # Singleton bypass (r10): total == 1 messages — the overwhelming
    # majority of AIS traffic — need no grouping at all, so they take a
    # NARROW map-only branch (emit iff num == 1, exactly what the
    # sequence check would decide) and never enter the shuffle. Only
    # multi-part fragments ride the groupBy, which shrinks the one big
    # exchange to the few percent of rows that actually need reassembly —
    # at sf0.1 this took the flagship's reassembly stage from ~0.9s to
    # the shuffle cost of the multi-part sliver alone; at 100 TB it is
    # the difference between shuffling the archive and shuffling its
    # multi-part sliver. Semantics unchanged: total == 1 groups are never
    # repair leftovers (n_frags == 1 == total), a num != 1 singleton
    # fails the 1..total sequence check on both paths, and malformed
    # total <= 0 rows stay on the grouped path where the existing checks
    # drop them.
    singles = (
        valid.filter((F.col("total") == 1) & (F.col("num") == 1))
        .select(
            "tagblock",
            "ts",
            "seq_id",
            F.col("total").alias("n_sentences"),
            "payload",
        )
    )
    keyed = valid.filter(F.col("total") != 1).withColumn(
        "group_key", F.col("line_idx") - (F.col("num") - 1).cast("bigint")
    )
    grouped = (
        keyed.groupBy("group_key", "seq_id", "total")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("num", "payload", "tagblock", "ts", "line_idx"))
            ).alias("frags"),
            F.count(F.lit(1)).alias("n_frags"),
        )
    )
    out = singles.unionByName(_emit_groups(grouped))

    leftovers = (
        grouped.filter(F.col("n_frags") != F.col("total"))
        .select("seq_id", "total", F.explode("frags").alias("f"))
        .select("seq_id", "total", "f.num", "f.payload", "f.tagblock", "f.ts", "f.line_idx")
    )
    w = Window.partitionBy("seq_id", "total").orderBy(F.col("line_idx").asc())
    regrouped = (
        leftovers.withColumn(
            "grp",
            F.sum(F.when(F.col("num") == 1, 1).otherwise(0)).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("seq_id", "total", "grp")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("num", "payload", "tagblock", "ts", "line_idx"))
            ).alias("frags"),
            F.count(F.lit(1)).alias("n_frags"),
        )
        # Splice guard: only rejoin halves actually cut by a split boundary.
        # keys[i] is fragment i's adjacency key; b is the 1-based index where
        # the second run starts. Require exactly two runs, the second
        # internally uniform, living in the NEXT partition, at row offset 0
        # (a true continuation IS the first surviving line of its split; any
        # interposed line would have broken adjacency in the unsplit stream
        # too, so the reference would drop the group — and so do we).
        .withColumn(
            "keys", F.expr("transform(frags, f -> f.line_idx - (f.num - 1))")
        )
        .withColumn(
            "b",
            F.expr(
                "cast(array_position(transform(keys, k -> k != keys[0]), true) as int)"
            ),
        )
        .filter(
            F.expr(
                f"""CASE WHEN size(array_distinct(keys)) != 2 OR b < 2 THEN false
                    ELSE forall(slice(keys, b, size(keys) - b + 1),
                                k -> k = element_at(keys, b))
                         AND shiftright(element_at(frags, b).line_idx, 33)
                             = shiftright(frags[0].line_idx, 33) + 1
                         AND (element_at(frags, b).line_idx & {_MI_OFFSET_MASK}) = 0
                    END"""
            )
        )
        .drop("keys", "b")
    )
    return out.unionByName(_emit_groups(regrouped))


def read_and_decode(
    spark: SparkSession,
    path: str,
    message_types: "tuple[int, ...] | None" = None,
    stage_decoded: bool = True,
) -> DataFrame:
    """Full S1 -> P27 -> P1 -> P2/ST1 -> decode pipeline, ending with the
    typed ``ais`` struct column.

    ``message_types``: F1 routing pushed BELOW the Python stage — the
    pure-SQL ``routing_message_type`` fast path (first armored char,
    JVM-side) filters reassembled messages before the Arrow decode, so a
    consumer that only wants e.g. types (1, 2, 3, 5, 24) never pays Python
    decode for type-8 weather blobs. The reference decodes row-at-a-time
    then filters (ais_analysis.py:341-352); routing-before-decode is this
    engine's design point (SURVEY §2.3 F1) and is output-identical.

    ``stage_decoded``: eagerly stage the decoded frame so downstream
    fan-out re-reads the staged result instead of re-running the Python
    decode per consumer. Pass False when the caller consumes ``decoded``
    exactly ONCE (e.g. the flagship gold, analysis.build_gold_fused): the
    barrier and the block ser/de of the wide ais struct are then pure
    overhead, and dropping them still executes ONE archive FileScan and
    ONE ArrowEvalPython (asserted in tests/test_plans.py)."""
    from pincspark.decode.kernel import decode_ais, routing_message_type

    df = tokenize_sentences(with_tagblock_ts(read_archive(spark, path)))
    reassembled = reassemble(df)
    if message_types is not None:
        reassembled = reassembled.filter(
            routing_message_type(F.col("payload")).isin(*message_types)
        )
    decoded = decode_ais(reassembled, plan_barrier=True)
    if stage_decoded:
        decoded = stage(decoded, "decode:staged", eager=True)
    return decoded


def decode_line_stream(
    raw: DataFrame, timeout_ms: int | None = 60_000
) -> DataFrame:
    """The §3.2 ingest chain on any streaming DataFrame of raw lines
    (column ``value``): tag-block split -> tokenize -> checksum filter ->
    stateful reassembly (ST1) -> decode. Source-agnostic: file, socket, or
    Kafka (select the message value as ``value``) all feed the same chain.
    """
    from pincspark.decode.kernel import checksum_valid, decode_ais
    from pincspark.streaming.reassembly import reassemble_stream

    df = split_tagblock(raw.filter(F.col("value") != ""))
    df = tokenize_sentences(df).filter(checksum_valid(F.col("sentence")))
    reassembled = with_tagblock_ts(reassemble_stream(df, timeout_ms=timeout_ms))
    return decode_ais(reassembled)


def read_and_decode_stream(
    spark: SparkSession, path: str, timeout_ms: int | None = 60_000
) -> DataFrame:
    """File-source streaming twin of :func:`read_and_decode`."""
    return decode_line_stream(
        spark.readStream.format("text").load(path), timeout_ms=timeout_ms
    )


def read_socket_stream(
    spark: SparkSession, host: str, port: int, timeout_ms: int | None = 60_000
) -> DataFrame:
    """S2: live TCP NMEA feed -> decoded stream. The reference's ingress
    authenticates and re-frames byte-at-a-time (ais_ingressServer.py:20-144);
    the socket source is line-oriented so framing is free, and auth belongs
    to the transport adapter (production: Kafka between feed and engine).
    Dev/test source — Spark's socket source is not fault-tolerant."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return decode_line_stream(raw, timeout_ms=timeout_ms)
