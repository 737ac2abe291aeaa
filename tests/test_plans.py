"""Plan-shape regression tests: the physical properties PLANS.md claims
(pushdown, broadcast, top-k, partial aggregation) must survive refactors.
Checked on sf0.001 — plan shape is scale-invariant."""

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    from opentick_spark.workload import ALL_QUERIES

    return ALL_QUERIES


def test_range_scan_pushdown(spark, queries):
    plan = plan_of(queries["pk_range_scan"](spark, SF))
    assert "PushedFilters" in plan
    # (the PushedFilters list is elided in toString; the codegen Filter
    # shows the full conjunction)
    assert "GreaterThanOrEqual(ts" in plan
    assert "EqualTo(user_id,7)" in plan
    # exclusive upper bound lands on the STORED ts representation — a
    # folded timestamp literal (µs generations) or a ns-long literal
    # (nanosAsLong generations) — NOT on the normalized ns projection
    assert "< 2024-01-20 00:00:00" in plan or "< 1705708800000000000" in plan


def test_tail_limit_is_topk(spark, queries):
    plan = plan_of(queries["tail_limit"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_star_join_broadcasts_dims(spark, queries):
    plan = plan_of(queries["revenue_by_nation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact table must not shuffle-join


def test_agg_is_partial_final(spark, queries):
    plan = plan_of(queries["pricing_summary"](spark, SF))
    # partial+final hash aggregation (map-side combine before exchange)
    assert plan.count("HashAggregate") >= 2


def test_rank_topn_uses_window_group_limit(spark, queries):
    plan = plan_of(queries["window_rank_topn"](spark, SF))
    assert "WindowGroupLimit" in plan


def test_dedup_text_paths_have_no_python_udf(spark, queries):
    # text/dedup hot paths must stay JVM-side (no BatchEvalPython /
    # ArrowEvalPython stages)
    for name in ["dedup_exact", "dedup_ngram_jaccard", "text_quality", "text_token_count_total"]:
        plan = plan_of(queries[name](spark, SF))
        assert "EvalPython" not in plan, name


def test_contamination_broadcasts_benchmark(spark, queries):
    plan = plan_of(queries["contamination_8gram"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_chunking_has_no_exchange(spark, queries):
    # chunking is embarrassingly parallel: no shuffle anywhere
    plan = plan_of(queries["text_chunking"](spark, SF))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_pii_redaction_jvm_only(spark, queries):
    plan = plan_of(queries["text_pii_redaction"](spark, SF))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_packing_single_shuffle(spark, queries):
    # one exchange (the window's partitionBy) and nothing else
    plan = plan_of(queries["pack_sequences_by_lang"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_ewma_is_arrow_not_row_python(spark, queries):
    # the sequential recurrence runs as ONE Arrow-batched FlatMapGroups,
    # never a row-at-a-time BatchEvalPython
    plan = plan_of(queries["ewma_final_price"](spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_interval_join_is_hash_not_nested_loop(spark, queries):
    plan = plan_of(queries["interval_join_windows"](spark, SF))
    assert "NestedLoop" not in plan


def test_repetition_is_narrow_only(spark, queries):
    # top-bigram found inside the row (sorted-run aggregate): the whole
    # metric pass is projection-only — no exploded-token shuffle, no UDF
    plan = plan_of(queries["text_repetition"](spark, SF))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_bm25_broadcasts_term_stats(spark, queries):
    # df(term) and (N, avgdl) are broadcast; the only data-sized
    # shuffle keys on doc_id for the score sum
    plan = plan_of(queries["text_bm25_search"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan


def test_hash_split_no_udf_single_agg_exchange(spark, queries):
    # md5-bucket assignment is a pure projection; the per-split rollup is
    # the one hash exchange
    plan = plan_of(queries["corpus_split_stats"](spark, SF))
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_dialect_adj_uses_broadcast_interval(spark, queries):
    # the dialect adj() path resolves factors via the broadcast-interval
    # join (skew-immune; row stream keeps its partitioning): no merge-
    # strategy Union of rows+events; the only Window sits on the tiny
    # broadcast (factor) side
    plan = plan_of(queries["adj_forward"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Union" not in plan


def test_bpe_encode_zero_exchange_no_python(spark, queries):
    """Encoding is a narrow JVM transform: no shuffle, no Python UDF."""
    plan = plan_of(queries["bpe_encode_docs"](spark, SF))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_mixture_sample_broadcast_offsets_no_python(spark, queries):
    """The offset table joins back via broadcast; everything JVM-side."""
    plan = plan_of(queries["mixture_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan


def test_heavy_hitters_broadcast_semi_join(spark, queries):
    """Candidate verification must be a broadcast LEFT SEMI join — the
    word stream never shuffles on the word."""
    plan = plan_of(queries["heavy_hitter_words"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_hop_window_single_agg(spark, queries):
    """Hop expansion happens in-plan (Expand/explode), one partial+final
    agg pair, no self-union second scan."""
    plan = plan_of(queries["hop_window_counts"](spark, SF))
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 2


def test_negative_sampling_no_cross_join(spark, queries):
    """Partner choice is a bucket equi-join + min_by — never a cartesian
    or nested-loop join, no Python."""
    plan = plan_of(queries["negative_sampling"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_market_beta_broadcasts_market_series(spark, queries):
    """The day-cardinality market side must broadcast; the per-user side
    never shuffles for the join."""
    plan = plan_of(queries["market_beta"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_audio_windows_no_shuffle_no_python(spark, queries):
    """Chunk boundaries and byte slices are narrow JVM expressions."""
    plan = plan_of(queries["multimodal_audio_windows"](spark, SF))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_bar_downsample_two_agg_levels(spark, queries):
    """ticks→hourly→daily: two partial+final hash-agg pairs, one scan."""
    plan = plan_of(queries["bar_downsample_daily"](spark, SF))
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 4


def test_balanced_sample_is_window_group_limit(spark):
    """min(20, class)-per-lang sampling must be a WindowGroupLimit (top-k
    per key), not a full per-class sort."""
    from opentick_spark.workload.llm import balanced_sample_per_lang

    plan = plan_of(balanced_sample_per_lang(spark, SF))
    assert "WindowGroupLimit" in plan


def test_dup_span_stats_no_python_udf(spark):
    """The substring-dedup pipeline is pure built-ins: tokenize, window
    lead, hash agg, semi-join, islands — no Python evaluation anywhere."""
    from opentick_spark.workload.llm import dup_span_stats

    plan = plan_of(dup_span_stats(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_temperature_sample_no_python_rank_per_source(spark):
    """Per-source budgets are data-dependent (non-literal rank limit),
    so WindowGroupLimit cannot apply — assert the shape that IS the
    contract: one row_number window partitioned by source, no Python."""
    from opentick_spark.workload.llm import temperature_sample

    plan = plan_of(temperature_sample(spark, SF))
    assert "row_number" in plan and "[source" in plan
    assert "BatchEvalPython" not in plan


def test_length_batch_stats_no_global_sort(spark):
    """The two-level rank must not fall back to a single global Sort of
    the data: the only unpartitioned window runs over the bucket-count
    frame, so no Exchange SinglePartition over the corpus rows."""
    from opentick_spark.workload.llm import length_batch_stats

    plan = plan_of(length_batch_stats(spark, SF))
    assert "BatchEvalPython" not in plan
    # the doc-side window partitions by the length bucket
    assert "__bkt" in plan


def test_hybrid_search_broadcasts_scalars_no_python(spark):
    from opentick_spark.workload.llm import hybrid_search

    plan = plan_of(hybrid_search(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # cosine is the JVM fold, not a UDF
    # the only nested-loop joins are the sanctioned 1-row scalar
    # broadcasts (query vector, max score): every occurrence must be a
    # BuildRight Cross of a broadcast side
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+), (\w+)", plan):
        assert m.groups() == ("BuildRight", "Cross"), m.group(0)


def test_quality_report_single_aggregate(spark):
    from opentick_spark.workload.core import data_quality_report

    plan = plan_of(data_quality_report(spark, SF))
    assert "BatchEvalPython" not in plan


def test_tfidf_broadcasts_df_table_no_python(spark, queries):
    plan = plan_of(queries["tfidf_top_terms"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the document-frequency table and the N scalar are broadcast back —
    # the (doc, term) tf table never shuffle-joins
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row N scalar
    assert "SortMergeJoin" not in plan


def test_dsir_weights_fixed_size_broadcast(spark, queries):
    plan = plan_of(queries["dsir_importance_scores"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # bucket-weight table joins back via broadcast; token stream never
    # shuffle-joins
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_sample_is_topk_not_sort(spark, queries):
    plan = plan_of(queries["weighted_sample_docs"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_knn_vote_broadcasts_queries_no_python(spark, queries):
    plan = plan_of(queries["knn_label_vote"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # broadcast queries × corpus
    assert "SortMergeJoin" not in plan


def test_mad_outliers_broadcasts_median_tables(spark, queries):
    plan = plan_of(queries["mad_outlier_stats"](spark, SF))
    # both robust-stat tables (median, MAD — a handful of rows keyed by
    # event_type) broadcast back; events never shuffle-joins
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_event_transitions_single_user_window(spark, queries):
    plan = plan_of(queries["event_transitions"](spark, SF))
    # one window pass over user partitions; the prob normalization
    # window runs on the tiny (from,to) agg, so exactly 2 Window nodes
    assert plan.count("Window") == 2
    assert "BatchEvalPython" not in plan


def test_source_overlap_no_doc_pair_join(spark, queries):
    plan = plan_of(queries["source_overlap_matrix"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # Jaccard denominators come from the tiny per-group size table,
    # broadcast twice
    assert plan.count("BroadcastHashJoin") >= 2


def test_run_length_histogram_shares_user_shuffle(spark, queries):
    plan = plan_of(queries["run_length_histogram"](spark, SF))
    # both row_number windows partition on user_id: one exchange on the
    # user key feeds them; the only other exchanges are the two tiny
    # aggs — no global-sort Exchange (SinglePartition) anywhere
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan


def test_value_decile_no_global_sort(spark, queries):
    plan = plan_of(queries["value_decile_stats"](spark, SF))
    # the scale trap this query avoids: NTILE's single-partition window
    assert "Window" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row boundary broadcast


def test_edit_distance_blocked_join_no_python(spark, queries):
    plan = plan_of(queries["dedup_edit_distance"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan  # blocking key equi-join only
    assert "levenshtein" in plan  # JVM built-in, not a UDF


def test_collocation_pmi_topk_and_broadcast(spark, queries):
    plan = plan_of(queries["collocation_pmi_top100"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # unigram table twice
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


# ----------------------------------------------------------- round-5 plans
def test_chunk_dedup_no_pairwise_no_python(spark, queries):
    plan = plan_of(queries["chunk_dedup_stats"](spark, SF))
    # global chunk frequency is a hash agg + equi-join back on the
    # hash — never pairwise, never Python in the hot path
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_char_entropy_is_arrow_narrow(spark, queries):
    plan = plan_of(queries["char_entropy_stats"](spark, SF))
    # in-row entropy: Arrow-batched eval, zero Exchange (the SQL
    # formulation would shuffle every character of the corpus)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_wav_decode_join_is_hash_not_nested(spark, queries):
    plan = plan_of(queries["wav_decode_features"](spark, SF))
    assert "BatchEvalPython" not in plan  # header/PCM decode is Arrow
    assert "CartesianProduct" not in plan


def test_rolling_beta_single_window_shuffle(spark, queries):
    plan = plan_of(queries["rolling_beta_7d"](spark, SF))
    # day-cardinality market side broadcast; ONE window exchange on
    # user_id; bounded ROWS frame (never an unbounded running state)
    assert "BroadcastHashJoin" in plan
    assert plan.count("Window") == 1
    assert "specifiedwindowframe(RowFrame, -6, currentrow" in plan
    assert "Exchange SinglePartition" not in plan


def test_embedding_norm_stats_dim_sized_shuffle(spark, queries):
    plan = plan_of(queries["embedding_norm_stats"](spark, SF))
    # norms fold in-row; the centroid aggregate's exchange carries only
    # dim x partitions partial sums; final combine is two 1-row aggs
    assert "BatchEvalPython" not in plan
    assert "Generate posexplode" in plan or "posexplode" in plan


def test_retention_cohorts_no_cross_product(spark, queries):
    plan = plan_of(queries["retention_cohorts"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_referential_audit_is_anti_joins(spark, queries):
    plan = plan_of(queries["referential_integrity_audit"](spark, SF))
    assert plan.count("LeftAnti") >= 4
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_star_edges_no_self_join_blowup(spark, queries):
    # dedup_star_clusters computes BOTH graphs; the star arm must plan
    # a window min over (band, bucket), not another banded self-join —
    # count the banded equi-self-joins: exactly the one from the pairs
    # arm's candidate generation
    from opentick_spark.operators.dedup import minhash_cluster_edges

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(
        minhash_cluster_edges(docs, num_hashes=32, bands=8, verify=False)
    )
    assert "Window" in plan  # hub = min(id) OVER (band, bucket)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_runtime_bloom_filter_join_eligible(spark):
    """100 TB posture evidence (r6): a selective dim filter joined into
    a big fact over a SHUFFLE join is eligible for Spark's runtime
    bloom-filter injection — the fact side gets a might_contain()
    pre-filter built from the dim side, cutting shuffle volume before
    the join. At production scale this fires on the default config
    (application side > 10 GiB scan, dim side above the broadcast
    threshold); at test scale those thresholds gate it OFF, so the test
    lowers them to pin that OUR join shape qualifies — if a refactor
    broke the equi-join condition or hid the selective filter behind a
    Python UDF, the injection would stop planning."""
    defaults = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": None,
        "spark.sql.autoBroadcastJoinThreshold": None,
    }
    for k in defaults:
        defaults[k] = spark.conf.get(k)
    # the default gates document WHY this never fires at sf0.01
    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled"
    ) == "true"
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0b",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import pyspark.sql.functions as F

        orders = spark.read.parquet(f"{SF}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
        sel = orders.filter(F.col("o_totalprice") > 400000).select(
            "o_orderkey"
        )
        j = lineitem.join(sel, lineitem.l_orderkey == sel.o_orderkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt  # dim side builds the filter
        assert "might_contain" in opt  # fact scan applies it
    finally:
        for k, v in defaults.items():
            spark.conf.set(k, v)


def test_portable_minhash_banding_stays_jvm(spark, queries):
    """r7: the portable hash family (md5+conv base hash, polynomial
    band folds) must not cost the JVM path — lsh_banding_efficiency's
    whole pipeline plans with zero Python eval stages, and the
    candidate join is a real equi-join, never a cartesian."""
    plan = plan_of(queries["lsh_banding_efficiency"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_hamming_star_edges_collapse_clones_first(spark):
    """r7 hot-chunk escape: the star construction must plan the GLOBAL
    signature-dedup aggregate (clone collapse) feeding the blocked
    pairs join — an aggregate on the signature, no window hub (the
    naive per-bucket hub was cluster-INequivalent), no cartesian."""
    from opentick_spark.operators.dedup import hamming_blocked_star_edges

    sigs = spark.range(100).selectExpr("id", "xxhash64(id) AS sh")
    plan = plan_of(hamming_blocked_star_edges(sigs, max_hamming=8))
    assert plan.count("HashAggregate") >= 2  # partial+final sig dedup
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_mjpg_frame_stats_is_narrow_arrow(spark, queries):
    """r7: synthesis + MJPG (JPEG) decode + per-frame stats is one
    narrow Arrow pipeline — video bytes never shuffle; the only Python
    stages are mapInPandas (Arrow), never row-at-a-time. r8: the ONE
    allowed exchange is the 8-byte doc_id round-robin spread BEFORE the
    codec (the 1-row-group scan is a single partition — unspread, the
    whole JPEG pipeline ran on one core); payloads are generated after
    it and still never cross an exchange."""
    plan = plan_of(queries["mjpg_frame_stats"](spark, SF))
    assert plan.count("Exchange") == 1
    ex = plan.index("Exchange")
    assert "RoundRobinPartitioning" in plan[ex : ex + 120]
    # everything below the exchange is the bare id scan — payload
    # columns exist only above it
    assert "payload" not in plan[ex:]
    assert "BatchEvalPython" not in plan


def test_row_path_select_skips_sort_exchange(spark, tmp_path):
    """r8 row/wire fast path: the client-materialized SELECT collects
    UNSORTED (no rangepartitioning Exchange, no sampling job) and sorts
    the Arrow table driver-side; the DataFrame API keeps the plan-level
    global orderBy (the 100 TB contract)."""
    import tempfile

    from opentick_spark.dialect.resolver import bind_conds
    from opentick_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database p")
    eng.use("p")
    eng.execute(
        "create table t(a int, b timestamp, x double, primary key(a, b))"
    )
    pid = eng.prepare("insert into t(a, b, x) values(?, ?, ?)")
    eng.batch_insert(pid, [(1, i, float(i)) for i in range(100)])
    resolved = eng._lookup(eng.prepare("select x from t where a=1"))[1]
    conds = bind_conds(resolved.conds, ())
    fast = eng._select_frame(resolved, [conds], defer_sort=True)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in fast_plan, fast_plan[:1500]
    # the PK is carried through so the driver-side sort can order on it
    assert set(fast.columns) >= {"a", "b", "x"}
    df_plan = (
        eng.execute("select x from t where a=1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in df_plan
    # and the materialized rows really are PK-ascending
    rows = eng.execute_rows("select b, x from t where a=1")
    assert [r[1] for r in rows] == [float(i) for i in range(100)]
    # LIMIT keeps the plan sort (TakeOrderedAndProject path)
    tail = eng.execute_rows("select b, x from t where a=1 limit -5")
    assert [r[1] for r in tail] == [99.0, 98.0, 97.0, 96.0, 95.0]


def _final_plan(df):
    df.collect()
    return (
        df._jdf.queryExecution().executedPlan().toString()
        .split("+- == Initial Plan ==")[0]
    )


def test_one_pass_plans_r14_fork_fixes(spark):
    """Regression gate for the r14 plan_reuse_sweep fixes: each of these
    operators used to recompute its corpus tokenize pipeline once per
    consumer branch (two Generates in the executed plan). The fixes are
    structural (kept aggregate references, count-over-window rewrites)
    and silent to every value test — only the executed plan shows a
    regression. NOTE: the inspected DataFrame itself must be collected;
    under AQE an un-executed plan never shows the reuse."""
    from opentick_spark.operators.search import bm25_scores
    from opentick_spark.operators.selection import tfidf_top_terms
    from opentick_spark.operators.text import chunk_dedup_metrics
    from opentick_spark.operators.dedup import duplicate_spans

    import tempfile

    d = tempfile.mkdtemp(prefix="otspark_planfix_") + "/docs"
    spark.range(80).selectExpr(
        "id AS doc_id",
        "concat('alpha beta gamma w', id % 7, ' delta w', id % 5, "
        "' epsilon zeta eta theta iota kappa') AS text",
    ).write.mode("overwrite").parquet(d)
    docs = spark.read.parquet(d)
    cases = {
        "tfidf": tfidf_top_terms(docs, k=3),
        "bm25": bm25_scores(docs, ["alpha", "beta"]),
        "chunk_dedup": chunk_dedup_metrics(docs, chunk_words=4),
        "dup_spans": duplicate_spans(docs, n=3),
    }
    for name, df in cases.items():
        plan = _final_plan(df)
        n_gen = plan.count("Generate")
        assert n_gen == 1, f"{name}: {n_gen} Generates — fork recompute is back"


def test_line_dedup_plan_one_generate_no_join(spark):
    """r15 (VERDICT r14 item 3 'Done' criterion): line_dedup's executed
    plan is a LINEAR pipeline — exactly one Generate (the posexplode)
    and zero joins; the distinct-doc count is windows over one
    line-keyed exchange, and the reassembly is one groupBy(id). A
    second Generate or a Join is the fork-recompute / agg+join shape
    coming back."""
    import tempfile

    from opentick_spark.operators.dedup import line_dedup

    d = tempfile.mkdtemp(prefix="otspark_linededup_") + "/docs"
    spark.range(60).selectExpr(
        "id AS doc_id",
        "concat('shared header', chr(10), 'body ', id, chr(10), "
        "CASE WHEN id % 2 = 0 THEN 'even footer' ELSE 'odd footer' END) "
        "AS text",
    ).write.mode("overwrite").parquet(d)
    df = line_dedup(spark.read.parquet(d), min_docs=2)
    plan = _final_plan(df)
    assert plan.count("Generate") == 1, plan
    assert "Join" not in plan, plan


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs ``fn`` submits, read from the status store through a
    job group: a count, so the gate does not depend on the machine's
    speed."""
    import uuid

    sc = spark.sparkContext
    group = f"counter-gate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counter gate")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_dialect_selects_job_counts(spark, tmp_path):
    """Counter gate for read-plan reuse and the snapshot-keyed factor
    table, on the benchmark's query shape (compacted hash-bucketed
    table): once warm, a repeated range select is ONE job (the scan) and
    an adj select over an unchanged ``_adj_`` is TWO (the broadcast of
    the persisted factor table, then the scan) — not three, as when the
    factor windows were recomputed per query."""
    from opentick_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    eng.execute("create database g")
    eng.use("g")
    eng.execute(
        "create table t(sec int, tm timestamp, close double, v double, "
        "primary key(sec, tm))"
    )
    eng.batch_insert(
        "insert into t(sec, tm, close, v) values(?, ?, ?, ?)",
        [(s, t, 100.0 + t, 1.0) for s in range(1, 5) for t in range(1, 200)],
    )
    eng.batch_insert(
        "insert into _adj_(sec, time, px, vol) values(?, ?, ?, ?)",
        [(s, t, 0.5, 2.0) for s in range(1, 5) for t in (50, 150)],
    )
    eng.store("g", "_adj_").compact(spark)
    eng.store("g", "t").compact(spark, hash_buckets=4)
    range_sql = "select * from t where sec=? and tm>=? and tm<?"
    adj_sql = "select tm, adj(close), adj(v) from t where sec=? and tm>=? and tm<?"
    for sql in (range_sql, adj_sql):
        eng.execute_rows(sql, 1, 10, 100)  # warm-up
    assert _jobs_run_by(spark, lambda: eng.execute_rows(range_sql, 2, 20, 120)) == 1
    rows = []
    assert _jobs_run_by(spark, lambda: rows.extend(eng.execute_rows(adj_sql, 3, 40, 60))) == 2
    # forward factors: before t=50 both events apply (0.25), then 0.5
    assert [(r[0][0], r[1]) for r in rows] == [
        (t, (100.0 + t) * (0.25 if t < 50 else 0.5)) for t in range(40, 60)
    ]
    # an _adj_ commit replaces the factor table, and the new one is
    # reused too — also after a second commit, whose factor plan has the
    # same root paths as the first one's: see factor_table
    for t in (58, 55):
        eng.execute("insert into _adj_(sec, time, px, vol) values(3, ?, 0.5, 2.0)", t)
        eng.execute_rows(adj_sql, 3, 40, 60)
    rows.clear()
    assert _jobs_run_by(spark, lambda: rows.extend(eng.execute_rows(adj_sql, 3, 40, 60))) == 2
    assert [(r[0][0], r[1]) for r in rows] == [
        (t, (100.0 + t) * (0.0625 if t < 50 else 0.125 if t < 55 else 0.25 if t < 58 else 0.5))
        for t in range(40, 60)
    ]
