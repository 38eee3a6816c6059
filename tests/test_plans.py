"""Physical-plan shape assertions: the scale properties the engine promises
(pushdown, pruning, broadcast, codegen) must be visible in .explain output —
a correct result from a bad plan is a 100-TB regression waiting to happen."""

from __future__ import annotations

from pincspark.plans import queries as Q
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    """q04's routing filter must reach the parquet scan as PushedFilters."""
    df = Q.q04_event_route(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "In(event_type" in plan or "event_type" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    """A 2-column projection must not read all event columns."""
    from pincspark.sources.tables import table
    from pyspark.sql import functions as F

    df = table(spark, SF_DIR, "events").select("event_id", "user_id")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_dimension_joins_are_broadcast(spark):
    """q03's nation/region hops must be broadcast hash joins, never
    shuffle/sort-merge (the dims are tiny)."""
    plan = _plan(Q.q03_region_enrich(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_join_single_shuffle(spark):
    """The as-of join is union + ONE keyed window — exactly one exchange on
    the key, and no join operator at all."""
    plan = _plan(Q.q06_asof_enrich(spark, SF_DIR))
    assert "Join" not in plan.replace("JoinedRow", "")
    assert plan.count("Exchange hashpartitioning(user_id") <= 2  # AQE may split


def test_static_pip_single_scan_no_hof(spark):
    """q23's ray casting: ONE file scan for all zones (array+explode, not a
    per-zone union), statically unrolled predicates (no array-fold HOF),
    codegen'd ('*(n)' prefixes) up to the Generate. AQE is disabled for the
    inspection so the physical plan is final at analysis time."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(Q.q23_zone_occupancy(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("FileScan") == 1
    assert "aggregate(" not in plan  # no interpreted array fold
    assert "*(1)" in plan  # codegen stages present


def test_dedup_rejoins_have_no_forced_broadcast(spark):
    """The per-doc signature/size rejoins in minhash_lsh_pairs and
    ngram_jaccard_pairs must NOT carry a broadcast hint: at 100 TB those
    tables are one row per document (billions of rows) and a forced
    broadcast is an OOM. With the auto-broadcast threshold disabled the
    joins must compile to shuffle joins — proof nothing forces a broadcast;
    at runtime AQE is free to broadcast genuinely small sides."""
    from pincspark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i}") for i in range(8)],
        "doc_id INT, text STRING",
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for df in (
            minhash_lsh_pairs(docs, "doc_id", "text"),
            ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.1),
        ):
            analyzed = df._jdf.queryExecution().analyzed().toString()
            assert "ResolvedHint" not in analyzed and "broadcast" not in analyzed.lower()
            plan = _plan(df)
            assert "BroadcastHashJoin" not in plan
            assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_lsh_degenerate_bucket_capped(spark):
    """A corpus of identical docs lands in one LSH bucket per band; the
    max_bucket_size cap must skip it (no quadratic pair explosion) while
    distinct near-dup docs still pair up."""
    from pincspark.operators.dedup import minhash_lsh_pairs

    same = [(i, "the exact same boilerplate text repeated everywhere") for i in range(12)]
    docs = spark.createDataFrame(same, "doc_id INT, text STRING")
    assert minhash_lsh_pairs(docs, "doc_id", "text", max_bucket_size=10).count() == 0
    assert minhash_lsh_pairs(docs, "doc_id", "text", max_bucket_size=100).count() == 66


def test_cosine_topk_two_phase(spark):
    """cosine_topk must rank per (query, input partition) BEFORE the final
    per-query merge: two Window operators, the first keyed by
    spark_partition_id — never one global per-query sort of all scores."""
    df = Q.q18_knn_cosine(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2
    assert "SPARK_PARTITION_ID" in plan or "spark_partition_id" in plan


def test_decode_routing_prunes_before_python(spark, tmp_path):
    """Filtering on the SQL routing fast path must not invoke the Python
    decode for filtered-out rows: the filter sits below ArrowEvalPython."""
    from pyspark.sql import functions as F

    from pincspark.decode.kernel import decode_ais, routing_message_type

    df = spark.createDataFrame(
        [("15R9eN001n7DHvT13w0TBSM>00Rm",), ("55555555555555555555",)],
        "payload STRING",
    )
    routed = df.filter(routing_message_type(F.col("payload")).isin(1, 2, 3))
    decoded = decode_ais(routed)
    plan = _plan(decoded)
    python_idx = plan.find("ArrowEvalPython")
    filter_idx = plan.find("Filter")
    assert python_idx != -1 and filter_idx != -1
    assert filter_idx > python_idx  # printed tree: children below parents


def test_interval_join_no_nested_loop(spark):
    """q46's bucketized range join must plan as a hash join + refine
    filter — never BroadcastNestedLoopJoin/CartesianProduct (what a naive
    BETWEEN join degenerates to)."""
    plan = _plan(Q.q46_interval_join(spark, SF_DIR))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan


def test_flagship_single_scan_single_decode(spark, tmp_path):
    """The whole flagship DAG must execute exactly ONE archive FileScan and
    ONE Python decode stage (VERDICT r2 #1): without staging, the gold
    fan-out (positions + the t5/t24 static union consume `decoded` three
    times) plus reassemble's two-consumer grouped subtree multiplied the
    executed plan to 6 FileScans / 12 ArrowEvalPython. The validated and
    decoded frames are staged once; `capture_staged_plans` records the
    executed plan of each staged subtree, so the concatenation of those
    plans with the final gold/occupancy plans IS the total executed work."""
    from pincspark.analysis import batch_archive_analysis
    from pincspark.planhooks import capture_staged_plans

    tag = "\\s:rTEST,c:1673222400*00"
    sentences = [
        "!ABVDM,1,1,7,A,15R9eN001n7DHvT13w0TBSM>00Rm,0*54",
        "!ABVDM,2,1,4,A,58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l,0*14",
        "!ABVDM,2,2,4,A,PAiH8888880,2*1B",
    ]
    p = tmp_path / "archive.log"
    p.write_text("".join(tag + s + "\n" for s in sentences))

    with capture_staged_plans() as sink:
        gold, occupancy = batch_archive_analysis(spark, str(p))
    assert [label for label, _ in sink] == ["reassemble:valid", "decode:staged"]
    everything = "\n".join(
        [plan for _, plan in sink]
        + [
            gold._jdf.queryExecution().executedPlan().toString(),
            occupancy._jdf.queryExecution().executedPlan().toString(),
        ]
    )
    assert everything.count("FileScan") == 1
    assert everything.count("ArrowEvalPython") == 1


def test_flagship_fused_path_single_scan_single_decode(spark, tmp_path):
    """The gold_path (bench) flagship path drops the decode staging barrier
    (build_gold_fused gives `decoded` exactly ONE consumer, r13): the gold
    frame's own plan must then show exactly ONE ArrowEvalPython (no
    per-branch decode clones) and the total executed work — the staged
    `valid` pre-checkpoint plan plus the gold plan — exactly ONE archive
    FileScan, with the F1 routing filter sitting BELOW the Python stage."""
    from pincspark.analysis import GOLD_TYPES, build_gold_fused
    from pincspark.planhooks import capture_staged_plans
    from pincspark.sources.nmea_source import read_and_decode

    tag = "\\s:rTEST,c:1673222400*00"
    sentences = [
        "!ABVDM,1,1,7,A,15R9eN001n7DHvT13w0TBSM>00Rm,0*54",
        "!ABVDM,2,1,4,A,58I3mA82@Es3UKOOGB0l4E9<f1L4hhU>22222217H147I?610K54480CPj3l,0*14",
        "!ABVDM,2,2,4,A,PAiH8888880,2*1B",
    ]
    p = tmp_path / "archive.log"
    p.write_text("".join(tag + s + "\n" for s in sentences))

    with capture_staged_plans() as sink:
        decoded = read_and_decode(
            spark, str(p), message_types=GOLD_TYPES, stage_decoded=False
        )
    gold_plan = (
        build_gold_fused(decoded)._jdf.queryExecution().executedPlan().toString()
    )
    assert [label for label, _ in sink] == ["reassemble:valid"]
    everything = "\n".join([plan for _, plan in sink] + [gold_plan])
    assert everything.count("FileScan") == 1
    assert gold_plan.count("ArrowEvalPython") == 1
    # F1 routing below the Python stage: the pure-SQL armor-char routing
    # filter (ascii(substring(payload...)) ... IN (1,2,3,5,24)) must appear
    # BELOW (after, in top-down plan text) the ArrowEvalPython node —
    # Catalyst pushes it through the reassembly union into each branch, so
    # non-gold message types never reach the Python decode.
    below = gold_plan[gold_plan.find("ArrowEvalPython"):]
    assert "IN (1,2,3,5,24)" in below and "ascii(substring(payload" in below


def test_curation_pipeline_no_cartesian_no_forced_broadcast(spark):
    """q54 composes six stages; its physical plan must contain NO
    cartesian/nested-loop product anywhere (every pair expansion is
    bucketed or candidate-driven) and no broadcast of a document-scale
    frame: with the auto-broadcast threshold off, any broadcast left in
    the plan would be a forced hint on a corpus-sized table — the 100-TB
    OOM. (AQE remains free to broadcast small sides at runtime.)"""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(Q.q54_curation_pipeline(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan


def test_pq_encode_is_one_arrow_pass(spark):
    """q51's corpus encode must execute exactly ONE ArrowEvalPython (the
    numpy kernel) — no join against a codebook table, no per-code row
    blowup; the codebooks ride in as a closure. The LUT join may
    broadcast (query-side, tiny) but the corpus side must never
    sort-merge."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(Q.q51_pq_topk(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("ArrowEvalPython") == 1
    assert "SortMergeJoin" not in plan


def test_rolling_fingerprints_hash_once(spark):
    """q28's 3.5x win rests on tokens being md5-hashed ONCE into a
    materialized column, with the k shifted views slicing that array; if
    CollapseProject ever inlines the hash expression into the k consumers,
    the plan silently re-hashes every token k times (ADVICE r5 #1 — the
    load-bearing projection boundary was claimed in COVERAGE.md but
    unguarded). Exactly one `transform(` must survive in the plan."""
    plan = _plan(Q.q28_rolling_fingerprints(spark, SF_DIR))
    assert plan.count("transform(") == 1, (
        f"expected exactly 1 transform( in q28's plan, got "
        f"{plan.count('transform(')} — the hash-once projection boundary "
        "has been collapsed or duplicated"
    )


def test_entire_catalog_is_scale_safe(spark):
    """Sweep EVERY registered query through the plan linter: no cartesian
    product, no broadcast-nested-loop join, no row-at-a-time Python UDF
    anywhere in the full registered catalog. (Soft findings — final-stage single
    partitions for bounded results, e.g. a global top-k sort — are
    allowed; the hard three are the quadratic/per-row scale killers.)

    Exception, acknowledged per query: the ANN scorers cross a BOUNDED
    query batch (k literal vectors / a LIMITed frame — the broadcast side)
    with the corpus. That nested-loop is all-pairs by definition and
    LINEAR in the corpus; the linter cannot see the bound, so it is
    allowed explicitly here and the boundedness is what the recall/plan
    tests in test_scale.py pin.

    r11: the sweep also lints every STAGED (pre-localCheckpoint) plan the
    query build records via pincspark.planhooks — the final frame's plan is
    lineage-truncated at each checkpoint, and the q90 edge re-shuffle hid
    exactly there (VERDICT r10 #2)."""
    from pincspark.planhooks import capture_staged_plans
    from pincspark.plans.lint import assert_scalable, lint_plan_text
    from pincspark.plans.queries import QUERIES

    BOUNDED_QUERY_BATCH = {
        "q18_knn_cosine",
        "q22_ivf_topk",
        "q62_ivf_index_topk",  # same bounded centroid/query-batch crosses as q22
        "q112_ann_index_update",  # serves through q62's bounded crosses
        "q41_quantized_knn",
        "q48_bm25_scores",  # 1-row corpus-stats aggregate crossed on
        "q104_text_index_bm25",  # the same 1-row stats sidecar crossed on
        "q107_text_index_update",  # serves through the same stats sidecar
        "q51_pq_topk",
        "q52_ivfpq_topk",
        "q55_hybrid_retrieval",
        "q66_semantic_dedup",  # 16-centroid batch crossed with the corpus
        "q67_lm_perplexity",  # 1-row vocab-size aggregate crossed on
        "q68_dsir_weights",  # 1-row totals aggregate crossed on
        "q69_temperature_sample",  # 1-row count totals crossed on
        "q70_zorder_layout",  # 1-row dimension min/max stats crossed on
        "q90_link_authority",  # 1-row node-count aggregate crossed on
        # (pagerank:iter0 staged plan; later iterations reuse the
        # checkpointed ranks and carry no cross at all)
    }
    for name, (fn, _) in QUERIES.items():
        allow = (
            {"nested_loop_join"} if name in BOUNDED_QUERY_BATCH else frozenset()
        )
        with capture_staged_plans() as sink:
            df = fn(spark, SF_DIR)
        assert_scalable(df, allow=allow)
        for label, staged_plan in sink:
            hard = [f for f in lint_plan_text(staged_plan) if f.code not in allow]
            assert not hard, (name, label, hard)


def test_linter_flags_forced_broadcast_of_fact_table(spark):
    """The r6 q02 defect class can't recur silently: a forced F.broadcast
    on an UNBOUNDED fact-table scan (fine at sf0.1, OOM at 100 TB) is a hard
    linter finding, while the acknowledged bounded patterns — broadcasting a
    true dimension, or a filter-bounded query batch drawn from a fact table
    (the ANN shape) — stay clean."""
    import pyspark.sql.functions as F
    import pytest

    from pincspark.plans.lint import assert_scalable, lint_broadcast_hints
    from pincspark.plans.queries import table

    li = table(spark, SF_DIR, "lineitem")
    orders = table(spark, SF_DIR, "orders")

    bad = li.join(
        F.broadcast(orders.select("o_orderkey", "o_custkey")),
        li.l_orderkey == orders.o_orderkey,
    )
    codes = {f.code for f in lint_broadcast_hints(bad)}
    assert "broadcast_fact_table" in codes
    with pytest.raises(AssertionError, match="broadcast_fact_table"):
        assert_scalable(bad)

    cust = table(spark, SF_DIR, "customer")
    dim_ok = li.join(F.broadcast(cust), li.l_orderkey == cust.c_custkey)
    assert not lint_broadcast_hints(dim_ok)

    bounded_ok = li.join(
        F.broadcast(orders.filter(F.col("o_orderkey") < 10)),
        li.l_orderkey == orders.o_orderkey,
    )
    assert not lint_broadcast_hints(bounded_ok)

    # Reorder/reshuffle wrappers keep every row — hiding the fact scan
    # behind them must not evade the rule (review finding r7: Sort and
    # Repartition were absent from the pass-through set, so these exact
    # shapes walked free).
    for wrapped in (
        orders.repartition(16).select("o_orderkey"),
        orders.orderBy("o_orderkey"),
        orders.select("o_orderkey").union(orders.select("o_orderkey")),
    ):
        evasive = li.join(
            F.broadcast(wrapped), li.l_orderkey == wrapped.o_orderkey
        )
        assert "broadcast_fact_table" in {
            f.code for f in lint_broadcast_hints(evasive)
        }, f"evaded via {wrapped}"

    # A SQL CTE is a CTERelationRef leaf in the analyzed plan, not a
    # relation — the ref must be resolved through its CTERelationDef or a
    # broadcast-hinted CTE over a fact table walks free (ADVICE r7).
    orders.createOrReplaceTempView("__lint_orders")
    li.createOrReplaceTempView("__lint_lineitem")
    try:
        via_cte = spark.sql(
            """
            WITH o2 AS (SELECT o_orderkey FROM __lint_orders)
            SELECT /*+ BROADCAST(o2) */ l.l_orderkey
            FROM __lint_lineitem l
            JOIN o2 ON l.l_orderkey = o2.o_orderkey
            JOIN o2 b ON l.l_orderkey = b.o_orderkey
            """
        )
        assert "broadcast_fact_table" in {
            f.code for f in lint_broadcast_hints(via_cte)
        }, "evaded via SQL CTE reference"
    finally:
        spark.catalog.dropTempView("__lint_orders")
        spark.catalog.dropTempView("__lint_lineitem")


def test_q27_steady_plan_shape_is_pinned(spark):
    """q27 drew >1.7x contention flags in two consecutive official bench
    artifacts (r5 adjudicated noise, r6 1.81x with quiet-box 0.73s) with no
    code change either round. Pin the plan shape — TWO equi joins (the
    max_block_size ok-list semi-join + the pair join on the block key),
    <=4 exchanges (_spread repartition, the ok-list aggregate's, and the
    joins' build sides), zero cartesian/BNLJ/row-Python — so a future
    bench flag while this test is green is mechanically adjudicable as
    machine noise (adjudication rule in COVERAGE.md round-7 notes)."""
    from pincspark.plans.lint import plan_string
    from pincspark.plans.queries import QUERIES

    plan = plan_string(QUERIES["q27_embedding_dups"][0](spark, SF_DIR))
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 0
    assert plan.count("BatchEvalPython") == 0
    equi_joins = (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
    )
    assert equi_joins == 2, f"q27 join shape changed: {equi_joins} equi-joins"
    assert plan.count("Exchange") <= 4, "q27 grew an extra shuffle stage"


def test_harness_window_composition_is_pinned():
    """The external harness evaluates the FIRST 50 registered queries.
    r9 policy (VERDICT r8 #1): the window's job is to retire gate debt —
    every catalog query that has never had a driver row MUST be in the
    window, and only queries with >= 1 green row in the committed
    CORRECTNESS_r* history may sit after the boundary. The r9 window
    therefore holds the 36 highest-risk already-gated gates (codecs,
    decode SQL twins, dedup/ANN/composition flagships) plus ALL 14
    rows that were never driver-gated through r8 (sketch tier, Bloom
    decontam, WARC/HTML, DSIR/temperature/Z-order, funnel/cohort,
    census, track QC, voyage stats). An accidental mid-registry
    insertion would silently eject a gate — pin the boundary."""
    from pincspark.plans.queries import QUERIES

    names = list(QUERIES)
    window = set(names[:50])
    # The r9 gate-debt retirement wave: all 14 never-driver-gated rows.
    for newly_gated in (
        # q69_temperature_sample rotated out r12 for q102 (user journeys):
        # green r10/r11 rows, re-simmed on current code; the hash-filter
        # draw stays in-window via q100.
        # q70_zorder_layout rotated out r12 for q104 (text-index serving):
        # green r9-r11 rows, re-simmed on current code; layout identity
        # stays in-window via q87, pruning via q62/q104.
        # q68_dsir_weights rotated out r15 for q116 (incremental cluster
        # store): green r11-r14 rows; lm.py machinery stays in-window
        # via q67.
        "q72_bloom_decontam", "q73_warc_extract", "q74_html_extract",
        # q75_kmv_distinct rotated out r12 for q100 (holdout split): green
        # r9-r11 rows, re-simmed on current code; the KMV core keeps two
        # in-window gates via q83/q84.
        # q82_constraint_census rotated out r12 for q101 (moving stats):
        # green r9-r11 rows, re-simmed on current code; native filter/agg
        # census, agg tier stays via q01/q84.
        # q83_kmv_join_size rotated out r12 for q103 (CMS frequency):
        # green r9-r11 rows, re-simmed on current code; KMV core stays
        # in-window via q84.
        "q84_sample_quantiles",
        # q79_funnel and q86_voyage_stats rotated out r12 for q94/q95
        # (the aux/text decode-family SQL twins): both carry green
        # r10+r11 rows, re-simmed green on current code; their native
        # window/agg shapes stay gated in-window via q78/q84/q89 and
        # q01/q85 respectively. q85_track_qc rotated out r12 for q96
        # (encounters — same fixes + rounded-haversine kernel, strictly
        # more geo machinery); q80_cohort_retention rotated out r12 for
        # q97 (triangles — native date-trunc agg, window tier stays via
        # q78/q84/q92); both green r9-r11, re-simmed on current code.
        "q87_compaction_identity",  # NEW r9: compaction row-identity,
        # in-window at registration per the no-ungated-query policy
    ):
        assert newly_gated in window, f"{newly_gated} fell out of the window"
    # The highest-risk custom-machinery gates stay in: the from-scratch
    # codecs, the decode SQL twins, and the dedup/ANN/composition
    # flagships — a silent bug hides in hand-written bit twiddling, not
    # in a native rollup call.
    for flagship in (
        # q24_nmea_validate rotated out r11 for q93 (bucketed join):
        # green r10 row, re-simmed green on current code; its P1/P2/F5
        # surfaces are all independently gated by q88's SQL contract.
        "q93_bucketed_join",
        "q27_embedding_dups",
        "q31_position_decode_sql",
        # q32_static_voyage_sql rotated out r10 for q90 (link authority):
        # green r9 row, re-simmed on current code; the decode SQL-twin
        # tier keeps q31/q33/q34/q49 + q50 in-window.
        "q90_link_authority",
        "q33_classb_longrange_sql", "q34_static_report_sql",
        # NEW r12: the aux/text decode-family SQL twins — hand-written
        # bit twiddling is exactly the high-risk class this list exists
        # for; they retire the last local-only decode families.
        "q94_aux_families_sql", "q95_text_families_sql",
        "q37_decontamination",
        # q42_dedup_keep_list rotated out r13 for q109 (cluster holdout):
        # green r7-r12 rows; q109 contains q42's entire construction.
        "q109_cluster_holdout",
        # q43_simhash_pairs rotated out r14 for q111 (image perceptual
        # near-dup): green r1-r13 rows; the banded Hamming-pair machinery
        # q43 gated now runs IN-WINDOW through q111 (simhash_hamming_pairs
        # delegates to the same banded_hamming_pairs), the simhash fold
        # stays full-catalog parity-tested (q21+q43) and golden-pinned.
        "q111_image_neardup",
        # q49_weather_decode_sql rotated out r13 for q106 (exact
        # similarity join): green r9-r12 rows; the decode SQL-twin tier
        # keeps six in-window gates (q31/q33/q34/q50/q94/q95) on the
        # same bit-slice kernel and the DAC1/FID31 fields ride q50.
        "q106_exact_similarity_join",
        "q50_type6_egress",
        # q51_pq_topk rotated out r14 for q112 (incremental ANN index
        # maintenance — frozen-centroid fold + parquet append, the q107
        # pattern for vectors): green r1-r13 rows; the PQ codebook/ADC
        # machinery stays in-window composed inside q52.
        "q112_ann_index_update",
        "q52_ivfpq_topk", "q54_curation_pipeline",
        "q55_hybrid_retrieval",
        # q57_png_decode rotated out r11 for q92 (session windows): green
        # r10 row, re-simmed green on current code; the codec tier keeps
        # four in-window gates (q60/q61/q63/q65) on the shared plumbing
        # and PNG stays golden- and ImageIO-cross-validated locally.
        # q92_session_windows rotated out r13 for q108 (track resample):
        # green r11+r12 rows; native session_window call, gap sessions
        # stay sweep-gated via q13 and the streaming ST6 suite.
        "q108_track_resample",
        # q58_gif_decode rotated out r10 for q88 (reassembly contract):
        # green r9 row, re-simmed green on current code; GIF/LZW stays
        # golden- and ImageIO-cross-validated locally while the codec
        # tier keeps five in-window gates on the shared plumbing.
        "q88_reassembly_contract",
        # q59_dup_spans rotated out r13 for q105 (HDR quantile sketch):
        # green r6-r12 rows; the span census stays hard-gated in-window
        # as q64_span_removal's input stage.
        "q105_hdr_quantiles",
        "q60_jpeg_decode", "q61_flac_decode",
        "q62_ivf_index_topk", "q63_webp_decode", "q64_span_removal",
        # q65_tiff_decode rotated out r13 for q107 (text-index update):
        # green r8-r12 rows; codec tier keeps q60/q61/q63 in-window and
        # TIFF stays golden- and ImageIO-cross-validated locally.
        "q107_text_index_update",
        "q66_semantic_dedup", "q67_lm_perplexity",
        # q68_dsir_weights rotated out r15 for q116 (incremental cluster
        # store): green r11-r14 rows; the lm.py count-table machinery
        # stays in-window via q67 (same staging + spread code path).
        "q116_incremental_clusters",
        # q77_url_canonicalize rotated out r12 for q98 (heavy hitters):
        # green r10/r11 rows, re-simmed on current code; native regex
        # chain, string tier stays in-window via q73/q74.
        "q71_incremental_dedup",
        "q78_scd2_history", "q81_fuzzy_pairs",
        # NEW r12 custom-machinery gates: the space-time bucketed
        # encounter self-join, degree-oriented triangle counting, and the
        # Misra-Gries frequent-items sketch + exact recount.
        "q96_encounters", "q97_triangles", "q98_heavy_hitters",
        # NEW r12 second wave: the two-phase distributed global rank
        # (operators/order.py — NEW mapInPandas + prefix-sum machinery;
        # q38_repetition_rules rotated out, green r10+r11, text quality
        # stays in-window via q54 stage 1), the leakage-safe group-holdout
        # split (NEW sampling operator), and the bounded-frame sliding
        # stats (the one window-frame shape the catalog lacked).
        "q99_global_rank",
        # q100_holdout_split rotated out r15 for q115 (incremental
        # fingerprint index): green r12-r14 rows; its md5-CASE split
        # machinery stays hard-gated in-window via q109's cluster-aware
        # holdout (same sampling.group_holdout_split code path).
        "q115_fingerprint_index_update",
        # q101_moving_stats rotated out r14 for q114 (cross-modal
        # keep-list capstone): green r12+r13 rows; native bounded-frame
        # window call, the next-lowest-risk class after q102.
        "q114_multimodal_keeplist",
        # NEW r12 third wave: deterministic sequence assembly (array_sort
        # over collected structs — the event-log-to-training-example step)
        # and the count-min frequency sketch (mergeable BIGINT cells).
        # q102_user_journeys rotated out r14 for q113 (audio perceptual
        # near-dup): green r12+r13 rows; native array_sort assembly, the
        # lowest-risk class in the window — sequence building stays
        # gated via q45 packing + q101 ordered frames.
        "q113_audio_neardup",
        "q103_cms_frequency",
        # NEW r12 fourth wave: persistent inverted-index BM25 serving
        # (build-once/serve-many, term-bucket partition pruning).
        "q104_text_index_bm25",
    ):
        assert flagship in window, f"{flagship} fell out of the harness window"


def test_no_query_stays_driver_ungated():
    """VERDICT r8 #7: enforce the rotation policy mechanically. Every
    registered catalog query must either (a) already have at least one
    fully-green row (rows+schema+hash, err=null) in the committed
    CORRECTNESS_r*.json history, or (b) be inside the current 50-slot
    harness window so it gets one this round. A query that is neither
    gated nor in-window is exactly the r8 gate-debt defect recurring —
    fail loudly with the offending names."""
    import glob
    import json
    import os

    from pincspark.plans.queries import QUERIES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gated: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        for name, row in json.load(open(path)).items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                gated.add(name)
    assert gated, "no CORRECTNESS history found — harness layout changed?"
    names = list(QUERIES)
    window = set(names[:50])
    debt = [n for n in names if n not in gated and n not in window]
    assert not debt, (
        f"driver-ungated queries sitting OUTSIDE the harness window: {debt}; "
        "rotate them in (swap out an already-gated, subsumed shape) or "
        "they will never see the hard signal"
    )


def test_rotation_ledger_complete_and_green():
    """VERDICT r12 #8: the rotation ledger must be machine-checkable, not
    COVERAGE.md prose. Every catalog query OUTSIDE the current 50-slot
    window needs a ROTATIONS.jsonl row showing (a) at least one green
    driver round in the committed CORRECTNESS history and (b) a green
    re-sim from the newest committed SWEEP artifact. Regenerate with
    ``python scripts/rotations_ledger.py`` after every rotation/sweep."""
    import json
    import os

    from pincspark.plans.queries import QUERIES

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "ROTATIONS.jsonl")
    assert os.path.exists(path), "ROTATIONS.jsonl missing — run scripts/rotations_ledger.py"
    ledger = {row["query"]: row for row in map(json.loads, open(path))}

    names = list(QUERIES)
    out_of_window = [n for n in names if n not in set(names[:50])]
    missing = [n for n in out_of_window if n not in ledger]
    assert not missing, (
        f"out-of-window queries absent from ROTATIONS.jsonl: {missing}; "
        "regenerate via scripts/rotations_ledger.py"
    )
    stale = [
        n for n in out_of_window
        if not (ledger[n].get("green_rounds") and ledger[n].get("resim_green"))
    ]
    assert not stale, (
        f"ledger rows without a green driver round + green re-sim: {stale}"
    )


def test_q91_single_exchange_and_parallel_pip(spark):
    """VERDICT r13 #2 (q91's 2.8-4.0s bench spread): the ray-casting PIP
    CASE is the query's dominant compute and must not run on ONE task
    when events.parquet arrives as a single split. The _spread
    repartition by mmsi parallelizes it AND satisfies the transitions
    window's (mmsi, zone_id) clustering, so the plan must still hold
    exactly ONE exchange — a second one means the window stopped reusing
    the spread partitioning and the fix regressed into a double
    shuffle."""
    from pincspark.plans.lint import plan_string
    from pincspark.plans.queries import QUERIES

    df = QUERIES["q91_zone_transitions"][0](spark, SF_DIR)
    plan = plan_string(df)
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert plan.count("BatchEvalPython") == 0
    # the PIP compute consumes the exchange's OUTPUT (dataflow-after =
    # printed-above): the zone-flag projection must appear before the
    # Exchange line in the printed tree, and the exchange's child
    # subtree (printed after) must NOT carry it — i.e. the flags are
    # computed on the parallel post-shuffle side, not on the single
    # pre-shuffle scan task
    above, below = plan.split("Exchange", 1)
    assert "in_" in above, "PIP flags vanished from the post-shuffle side"
    assert "in_" not in below.split("ReadSchema")[0], (
        "PIP flags computed below the exchange (single-task scan side)"
    )
