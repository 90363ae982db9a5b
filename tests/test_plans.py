"""Physical-plan shape regression tests.

Correctness says WHAT the engine computes; these assert HOW — that the plans
we'd want at 100 TB are the plans Catalyst actually produces at any SF:
filters reach the parquet scan, scans are column-pruned, fixed-size
dimensions broadcast, fact-fact joins sort-merge, and nothing degenerates
into a cartesian product. A regression here is a scale bug even when every
value still matches the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.plans.queries import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q06_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q06_filtered_agg")
    # predicates reach the parquet reader, not a post-scan Filter only
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1][:400]
    # scan reads exactly the 4 referenced columns, not the 16-column table
    scan_cols = plan.split("FileScan parquet [")[1].split("]")[0]
    assert set(c.split("#")[0] for c in scan_cols.split(",")) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }


def test_q11_join_strategies(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q11_regional_revenue")
    # fixed-size dims (region, nation) + customer broadcast; the fact-fact
    # orders-lineitem join stays shuffle-based (sort-merge) — the only shape
    # that survives when both sides are 100 TB-scale
    assert plan.count("BroadcastHashJoin") >= 2
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q10_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_orders_by_segment")
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_q16_probe_side_is_broadcast(spark, sf_dir):
    # similarity top-k must broadcast the small probe set, never shuffle the
    # candidate corpus against it
    plan = _plan(spark, sf_dir, "q16_knn_cosine")
    assert "Broadcast" in plan


def test_q01_partial_aggregation(spark, sf_dir):
    # the combiner the reference lacks: HashAggregate appears as a
    # partial/final pair around the exchange
    plan = _plan(spark, sf_dir, "q01_wordcount")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_q14_shuffles_digests_not_bodies(spark, sf_dir):
    # exact dedup must shuffle md5 digests, never document text: the hash
    # shuffle partitions on text_hash and a partial aggregate (combiner)
    # runs below it, so each document body dies in its scan task
    plan = _plan(spark, sf_dir, "q14_exact_dup_groups")
    assert "Exchange hashpartitioning(text_hash" in plan
    assert "partial_count" in plan


def test_q47_no_single_partition_data_sort(spark, sf_dir):
    # distributed sort: the global rank must come from range partitioning +
    # per-partition offsets, NOT a row_number window over one partition.
    # Since round 13 global_rank EAGERLY localCheckpoints the
    # range-partitioned frame (boundary consistency must not ride on the
    # cache — operators/sort.py), so the range exchange executes at
    # checkpoint time and the downstream plan reads the checkpoint as
    # `Scan ExistingRDD` carrying _pid. The pin therefore asserts:
    # (a) the data window is partitioned by _pid (never an empty/global
    #     partition spec over event rows);
    # (b) the window's input is the checkpointed pre-partitioned scan;
    # (c) no cartesian fallback.
    plan = _plan(spark, sf_dir, "q47_global_sort")
    assert "windowspecdefinition(_pid" in plan
    assert "Scan ExistingRDD" in plan and "_pid" in plan
    # the only permissible global windowspec is over the bounded counts
    # branch (offsets prefix-sum), whose input aggregates by _pid — an
    # empty-partition window directly over event columns is the single-task
    # sort this test exists to forbid
    # 'rnk' deliberately NOT allowlisted (round-14 ADVICE fix): the query's
    # own rank column is named rnk, so a regression to a single-partition
    # row_number over the event data would mention it on this very line and
    # sail through — only the bounded counts-branch columns are permissible.
    for line in plan.splitlines():
        if "windowspecdefinition(" in line and "windowspecdefinition(_pid" not in line:
            assert "_off" in line or "_n" in line, line
    assert "CartesianProduct" not in plan


def test_q46_grep_filter_stays_in_scan_stage(spark, sf_dir):
    # grep is a scan-side filter + project: no exchange should appear at all
    # (the only ordering is the final presentation sort)
    plan = _plan(spark, sf_dir, "q46_grep")
    assert "Join" not in plan
    # one range exchange for the final orderBy is acceptable; no hash shuffle
    assert "hashpartitioning" not in plan


def test_q49_tfidf_broadcasts_corpus_count(spark, sf_dir):
    # N (total docs) must arrive as a broadcast single-row join, not a
    # driver-side count() that would split the job in two
    plan = _plan(spark, sf_dir, "q49_tfidf")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q52_subquery_decorrelates(spark, sf_dir):
    # the correlated scalar subquery must rewrite to an aggregate + equi-join
    # on partkey, never a per-row subquery or cartesian expansion
    plan = _plan(spark, sf_dir, "q52_small_quantity_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # subquery avg + outer group-by


def test_q53_exists_plans_as_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q53_exists_big_spenders")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q55_eval_set_broadcasts(spark, sf_dir):
    # decontamination must broadcast the (tiny) eval shingle set so the
    # corpus side is never shuffled against it
    plan = _plan(spark, sf_dir, "q55_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q60_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    # the time-range join must run as an equi-join on (user, hour-bucket)
    # with the exact window as a residual filter — a nested-loop range join
    # would be O(n^2) at scale
    plan = _plan(spark, sf_dir, "q60_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_q56_split_is_map_only_until_final_agg(spark, sf_dir):
    # hash-split assignment is per-row arithmetic: exactly one data exchange
    # (the partial/final aggregate pair) plus the output sort
    plan = _plan(spark, sf_dir, "q56_split_assign")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 hash exchange, plan has {n_exchanges}"
    assert plan.count("HashAggregate") >= 2  # partial + final (combiner)


def test_q63_vocab_broadcasts(spark, sf_dir):
    # phase-2 coverage join must broadcast the K-row vocabulary
    plan = _plan(spark, sf_dir, "q63_vocab_coverage")
    assert "BroadcastHashJoin" in plan


def test_q72_semantic_dedup_plan_shape(spark, sf_dir):
    # SemDeDup's scale contract in the physical plan: centroids and block
    # pairs arrive as broadcasts (the corpus is never shuffled against
    # them), the only nested-loop joins are those broadcast centroid scans
    # (never a CartesianProduct), and exactly ONE Python boundary exists —
    # the per-(cell, block-pair) GEMM. Everything else stays JVM-side.
    plan = _plan(spark, sf_dir, "q72_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "ArrowEvalPython" not in plan  # no row-level Python UDFs anywhere


def test_aqe_splits_skewed_join_partition(spark):
    # Engine-side skew handling (q35's salting twin): a fact-fact sort-merge
    # join with 90% of rows on one key must NOT leave one straggler task
    # holding the hot partition — AQE's skew-join rule splits it at runtime.
    # Thresholds are lowered so the ~20 MB test shuffle triggers the same
    # code path a multi-TB hot partition would on a cluster; the assertion
    # is on the FINAL adaptive plan, i.e. what actually executed.
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "32k",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(0, 120_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 97 + 1)
            .cast("long")
            .alias("key"),
            # pseudo-random payload: shuffle block sizes are measured after
            # compression, so a constant string would hide the skew
            F.concat(
                F.sha2(F.col("id").cast("string"), 256),
                F.sha2((F.col("id") + 1).cast("string"), 256),
                F.sha2((F.col("id") + 2).cast("string"), 256),
            ).alias("payload"),
        )
        right = spark.range(0, 98).select(
            F.col("id").alias("key"), F.lit("dim").alias("attr")
        )
        df = left.join(right, "key")
        assert len(df.collect()) == 120_000
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q65_quantize_is_shuffle_free(spark, sf_dir):
    # per-vector quantization audit is pure row-local array math: no
    # aggregation, no join — the only exchange allowed is the output sort
    plan = _plan(spark, sf_dir, "q65_quantize_audit")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan


def test_q73_bloom_word_map_broadcasts(spark, sf_dir):
    """The Bloom probe must broadcast the word map (bounded at num_bits/64
    rows) and never shuffle the delta against full history; the only
    acceptable joins are broadcast-hash (word map, verify set) plus the
    final flag join on the key columns."""
    plan = _plan(spark, sf_dir, "q73_bloom_seen_keys")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q74_pagerank_no_cartesian_beyond_single_row_n(spark, sf_dir):
    """PageRank has no nested-loop join at all: N is counted by an
    Observation on the vertex-state build and enters each round as a
    literal (it used to be a single-row crossJoin per rank recomputation),
    and each round is one groupBy over checkpointed state, never a
    cartesian over data. The rounds are checkpointed, so the executed plan
    of the result is a scan of the last round's state."""
    plan = _plan(spark, sf_dir, "q74_pagerank")
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan


def test_q75_gram_index_no_cartesian(spark, sf_dir):
    """Cross-doc gram matching must be the hash-equi broadcast join on the
    gram index, never any nested-loop pairing of documents."""
    plan = _plan(spark, sf_dir, "q75_crossdoc_boilerplate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning" in plan  # the gram-hash index shuffle


def test_q77_merge_is_full_outer_no_cartesian(spark, sf_dir):
    # the keyed MERGE must plan as ONE full-outer equi-join on the key —
    # never a nested loop. The only BroadcastNestedLoopJoin allowed is the
    # single-row max(c_custkey) offset broadcast (q74-style scalar).
    plan = _plan(spark, sf_dir, "q77_merge_upsert")
    assert "FullOuter" in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_merge_bucketed_target_has_no_target_side_exchange(spark):
    # operators/merge.py:28's scale claim, demonstrated: with the target
    # stored bucketed on the merge key, the full-outer join reads target
    # buckets in place — ONLY the (small) source delta shuffles. Exactly one
    # Exchange in the bucketed plan vs two when the target is unbucketed.
    from mapreduce_paper_implementation_spark.operators.merge import merge_upsert
    from mapreduce_paper_implementation_spark.sources.bucketing import (
        drop_bucketed,
        write_bucketed,
    )

    # pre-clean BEFORE the write: a prior run that died mid-test leaves an
    # orphaned warehouse directory a fresh metastore's DROP can't remove,
    # and saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    drop_bucketed(spark, "merge_tgt_bucketed")
    target = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    source = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    write_bucketed(target, "merge_tgt_bucketed", "k", n_buckets=n_shuffle)
    try:
        merged = merge_upsert(spark.table("merge_tgt_bucketed"), source, ["k"])
        plan = merged._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan  # source side only
        assert "FullOuter" in plan

        baseline = merge_upsert(target, source, ["k"])
        base_plan = baseline._jdf.queryExecution().executedPlan().toString()
        assert base_plan.count("Exchange") == 2  # both sides shuffle
        # and the bucketed layout changed only the plan, not the answer
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, baseline.collect())
        )
    finally:
        drop_bucketed(spark, "merge_tgt_bucketed")


def test_q78_canonical_docs_no_cartesian(spark, sf_dir):
    # composes the q20 shingle self-join + q41 propagation + one argmax
    # aggregate: the quality projection must stay codegen (no Python), the
    # argmax must be a hash aggregate (no window sort), and nothing may
    # degenerate into a cartesian.
    plan = _plan(spark, sf_dir, "q78_canonical_docs")
    assert "CartesianProduct" not in plan
    # struct max is not hash-aggregable, so the argmax is a SortAggregate —
    # but still a partial/final PAIR (map-side combine before the shuffle).
    assert plan.count("SortAggregate") >= 2
    assert "Window" not in plan  # argmax via max(struct), not row_number
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q88_transitions_single_user_shuffle_then_tiny_window(spark, sf_dir):
    # the lead window shuffles once on user_id; the row-normalizing window
    # runs on the O(|types|^2) matrix, and nothing goes cartesian
    plan = _plan(spark, sf_dir, "q88_event_transitions")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_q90_scd2_windows_share_one_custkey_shuffle(spark, sf_dir):
    # lag + running-sum windows share the o_custkey partitioning: exactly
    # one exchange on the raw orders (the runs frame re-aggregates after)
    plan = _plan(spark, sf_dir, "q90_scd2_history")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(o_custkey") == 1


def test_q92_k_anonymity_map_only_until_final_agg(spark, sf_dir):
    # generalization is codegen'd projection; the only exchanges are the
    # QI-group partial/final agg and the output sort
    plan = _plan(spark, sf_dir, "q92_k_anonymity")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # hash agg + rangepartitioning sort


def test_q93_kl_marginals_broadcast(spark, sf_dir):
    # bin marginal and grand total are O(bins)/O(1) frames: they must
    # broadcast against the (source, bin) counts, never shuffle-join them
    plan = _plan(spark, sf_dir, "q93_source_drift_kl")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan  # single-row grand total
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q94_cooccurrence_marginals_broadcast_no_cartesian(spark, sf_dir):
    # item marginals are O(|items|): broadcast onto the pair frame; the
    # user-keyed self-join must stay an equi-join (the a.item < b.item
    # predicate is a post-join filter, never a nested loop)
    plan = _plan(spark, sf_dir, "q94_item_cooccurrence")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q95_median_frames_broadcast(spark, sf_dir):
    # the O(types) median/MAD frames broadcast back onto events — the fact
    # table is never shuffled for the join
    plan = _plan(spark, sf_dir, "q95_robust_outliers")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q96_contribution_expansion_no_range_self_join(spark, sf_dir):
    # the sliding window is the x7 explode, NOT a day-range self-join:
    # the only join is the single-row max-day broadcast
    plan = _plan(spark, sf_dir, "q96_sliding_distinct_users")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # single-row max-day
    assert "Generate explode" in plan


def test_q97_assortativity_degree_broadcast_single_row_reduce(spark, sf_dir):
    # degree table broadcasts twice onto the edge list; moment aggregate is
    # a single-row reduce joined by single-row broadcasts only
    plan = _plan(spark, sf_dir, "q97_degree_assortativity")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q98_snapshot_diff_full_outer_no_cartesian(spark, sf_dir):
    # snapshot comparison is ONE full-outer equi-join on the key; the only
    # nested-loop is the single-row max-key broadcast for insert offsets
    plan = _plan(spark, sf_dir, "q98_snapshot_diff")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_q99_gap_fill_spine_generated_daily_broadcast(spark, sf_dir):
    # the day spine is GENERATED (explode of sequence), never a history
    # rescan; the O(days x types) daily aggregate broadcasts onto it
    plan = _plan(spark, sf_dir, "q99_gap_fill_locf")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_q100_typo_pairs_block_equi_join(spark, sf_dir):
    # candidate pairing is an EQUI-join on the 16-char block key (plus the
    # single-row max-id broadcast for variant offsets) — never a corpus
    # cross product; the length prefilter and distance bound are post-join
    # filters on the blocked candidates only
    plan = _plan(spark, sf_dir, "q100_typo_pairs")
    assert "CartesianProduct" not in plan
    # the max-id single-row broadcast appears on BOTH sides of the self-join
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "levenshtein" in plan
    # the corpus-sized self-join must be a SHUFFLE join, never a broadcast
    # of full texts (measured 10x slower at 50k docs; OOM at scale)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_q101_attribution_interval_equi_join(spark, sf_dir):
    # purchase-click pairing is the q60-style equi-join on user_id with the
    # 4h window as a post-filter — no nested loop, no cartesian
    plan = _plan(spark, sf_dir, "q101_click_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_q110_cutpoints_broadcast_no_sort_of_corpus(spark, sf_dir):
    # the NTILE stand-in must never sort or single-partition the event
    # stream: cutpoints come from the bounded histogram (windowed over
    # (type, bin) rows), broadcast onto the corpus, and the only corpus
    # shuffles are the histogram partial-agg and the final bounded agg
    plan = _plan(spark, sf_dir, "q110_hist_tile_deciles")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # cutpoint table broadcast
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q111_query_terms_broadcast_postings_never_nl(spark, sf_dir):
    # scoring touches only query-term postings via a broadcast semi-shape
    # join; the single-row corpus stats ride a broadcast nested loop (the
    # q49/q57 single-row pattern) and nothing is a cartesian
    plan = _plan(spark, sf_dir, "q111_bm25_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # qterms onto postings
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # single-row stats only
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _walk_exec(node):
    # the SHARED walker (testing/planwalk.py) — same wrapper handling as
    # scripts/plan_audit.py, including expression-held subquery plans
    from mapreduce_paper_implementation_spark.testing.planwalk import iter_plan

    yield from iter_plan(node)


def test_q111_no_unpartitioned_window_over_vocab(spark, sf_dir):
    # the query-term pick must NEVER rank the whole vocabulary through one
    # task (the round-8 scale bug): the global top-14 by (df DESC, term)
    # comes from TakeOrderedAndProject (parallel per-partition heaps), and
    # every Window in the plan must sit on a limit-bounded input — walk
    # each WindowExec's subtree and require a TakeOrdered/GlobalLimit
    # descendant before any exchange-fed aggregate
    df = QUERIES["q111_bm25_topk"](spark, sf_dir)
    root = df._jdf.queryExecution().executedPlan()
    windows = [
        n
        for n in _walk_exec(root)
        if n.getClass().getSimpleName() == "WindowExec"
    ]
    assert windows, "expected the rank-10..14 window over the 14-row limit"
    for wnode in windows:
        sub = {n.getClass().getSimpleName() for n in _walk_exec(wnode)}
        assert "TakeOrderedAndProjectExec" in sub or "GlobalLimitExec" in sub, (
            "WindowExec input is not limit-bounded — vocabulary-wide "
            f"single-partition rank reintroduced: {sub}"
        )


def test_q113_weighted_sample_never_ranks_the_corpus(spark, sf_dir):
    # the E-S top-k must come from the bounded key histogram: cutoffs
    # broadcast back onto the corpus, row_number only over the single
    # boundary bin — walk the plan and require every row_number WindowExec
    # to sit on a cut-equality-filtered input (the bounded boundary bin);
    # the only other window is the histogram cumsum, whose subtree carries
    # the (source, samp_key) aggregate
    plan = _plan(spark, sf_dir, "q113_weighted_sample")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # cutoff table broadcast
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    df = QUERIES["q113_weighted_sample"](spark, sf_dir)
    windows = [
        n
        for n in _walk_exec(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "WindowExec"
    ]
    assert windows
    for wnode in windows:
        s = wnode.toString()
        if "row_number" not in s:
            continue  # the hist cumsum window: bounded aggregate input
        # the ranking window's subtree must restrict its input to the
        # boundary bin (samp_key = cut) — as an explicit Filter, or (what
        # Catalyst actually plans) folded into the broadcast join's
        # equi-condition. A row_number over the unfiltered corpus (the
        # q13/q108 violation) joins on source alone with no samp_key=cut
        # equality anywhere below it.
        sub = [n.toString().splitlines()[0] for n in _walk_exec(wnode)]
        assert any(
            ("samp_key" in ln and "cut" in ln)
            and (ln.startswith("Filter") or "Join" in ln)
            for ln in sub
        ), f"row_number window not boundary-bin-restricted: {sub[:8]}"


def test_q115_training_round_shape_uncheckpointed(spark, sf_dir):
    """VERDICT r10 ask #5: PLANS.md's q115 row cannot see the per-round work
    (lineage truncation). Pin the ROUND shape here instead, on the
    production round helper un-checkpointed: (a) pair counting is a
    partial+final hash aggregate pair around one exchange, (b) the winner
    is TakeOrderedAndProject (never a global sort). The merge APPLY is a
    driver-side literal replace since round 14 (the 1-row winner is
    collected — the kmeans-shift class of bounded round-trip), so the
    per-round distributed work is exactly this one job; the job-count gate
    lives in test_round14_additions.py."""
    from mapreduce_paper_implementation_spark.operators.tokenizer import (
        _round_winner,
        word_freq,
        _wrap_chars,
    )
    from mapreduce_paper_implementation_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    vocab = word_freq(docs).select(
        "w", "freq", _wrap_chars(F.col("w")).alias("symstr")
    ).localCheckpoint()  # training-loop entry state; rounds start here

    win = _round_winner(vocab)
    wp = win._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in wp, wp
    assert "Sort " not in wp  # the winner pick must never global-sort
    assert wp.count("HashAggregate") >= 2 and "partial_sum" in wp, wp
    assert wp.count("Exchange hashpartitioning") == 1, wp
