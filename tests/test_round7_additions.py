"""Round-7 curation-query additions (q79-q85): plan shapes + the q80
histogram-quantile accuracy bracket. Oracle hash-matching itself is covered
by the parameterized tests/test_queries.py::test_query_matches_oracle (all
seven register DuckDB oracles)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.plans.queries import QUERIES
from mapreduce_paper_implementation_spark.sources.tables import load_table


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q79_scrub_is_map_only(spark, sf_dir):
    # PII scrub is a per-row regexp rewrite: no aggregation, no join — the
    # only exchange allowed is the final determinism-rule orderBy (range).
    plan = _plan(spark, sf_dir, "q79_pii_scrub")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan


def test_q81_chunking_is_map_only(spark, sf_dir):
    # tokenize -> explode chunk indices -> slice+hash is per-row work; the
    # only exchange allowed is the final orderBy.
    plan = _plan(spark, sf_dir, "q81_doc_chunks")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan


def test_q82_unigram_joins_broadcast(spark, sf_dir):
    # the vocabulary joins must broadcast (vocab << corpus at any scale);
    # the only nested-loop joins are the two single-row total broadcasts.
    plan = _plan(spark, sf_dir, "q82_bigram_collocations")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # final top-20 is TakeOrderedAndProject, never a global sort of all
    # bigrams
    assert "TakeOrderedAndProject" in plan


def test_q80_histogram_has_partial_aggregation(spark, sf_dir):
    # the per-(type, bin) histogram must collapse map-side (partial+final
    # HashAggregate around the exchange) so raw values never shuffle.
    plan = _plan(spark, sf_dir, "q80_hist_quantile")
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_q80_estimates_bracket_exact_quantiles(spark, sf_dir):
    # histogram interpolation with width w can be off by at most w from the
    # exact order statistic (the estimate lies inside the target bin, and
    # the exact quantile lies inside the same bin by construction of the
    # cumulative rank).
    est = {
        r["event_type"]: r
        for r in QUERIES["q80_hist_quantile"](spark, sf_dir).collect()
    }
    # the guarantee is against the DISCRETE order statistic the rank targets
    # (value at rank ceil(q*n)) — estimate and order stat share a bin by
    # construction of the cumulative rank, so they differ by < bin width.
    # (Interpolated percentile() can cross a bin edge, so it is NOT the
    # right truth here.)
    events = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    ranked = events.select(
        "event_type",
        "value",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("value"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    exact = {
        (r["event_type"], r["q"]): r["value"]
        for r in ranked.withColumn(
            "q",
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), "p50").when(
                F.col("rk") == F.expr("(9 * n + 9) div 10"), "p90"
            ),
        )
        .where(F.col("q").isNotNull())
        .collect()
    }
    w = 0.25
    for t, r in est.items():
        assert abs(r["med_est"] - exact[(t, "p50")]) <= w, (t, r, exact[(t, "p50")])
        assert abs(r["p90_est"] - exact[(t, "p90")]) <= w, (t, r, exact[(t, "p90")])
        # boundedness: the sketch state is O(range/width), not O(rows)
        assert r["n_bins"] <= 4000


def test_q80_histogram_merges_across_batches(spark, sf_dir):
    # the mergeable-state property q80's docstring claims: hist_state built
    # per batch and merged equals the one-shot state, AND the finalized
    # quantiles from the merged state equal the direct q80-path output — the
    # continuous-aggregate contract (operators/incremental.py §3).
    from mapreduce_paper_implementation_spark.operators.incremental import (
        hist_state,
        merge_rollups,
        quantiles_from_hist,
    )

    events = load_table(spark, sf_dir, "events")
    one_shot = hist_state(events, ["event_type"], "value")
    batches = [
        hist_state(events.where(F.col("event_id") % 3 == i), ["event_type"], "value")
        for i in range(3)
    ]
    merged = merge_rollups(batches, ["event_type", "bin"], add_cols=["cnt"])
    diff = one_shot.exceptAll(merged).union(merged.exceptAll(one_shot))
    assert diff.count() == 0

    ranks = [("p50", "(n + 1) div 2"), ("p90", "(9 * n + 9) div 10")]
    q_inc = quantiles_from_hist(merged, ["event_type"], ranks)
    q_one = quantiles_from_hist(one_shot, ["event_type"], ranks)
    qdiff = q_inc.exceptAll(q_one).union(q_one.exceptAll(q_inc))
    assert qdiff.count() == 0


def test_q83_vectors_never_shuffle_for_assignment(spark, sf_dir):
    # centroids broadcast; the only exchanges are the two rank windows
    # (per-vector assignment, per-cell bottom-k) — never a shuffle join of
    # the vectors against anything.
    plan = _plan(spark, sf_dir, "q83_embedding_outliers")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the k-row centroid broadcast


def test_q84_funnel_single_user_shuffle(spark, sf_dir):
    # the three running carries share ONE user window partition: exactly one
    # hash exchange on user_id before the day rollup's exchange.
    plan = _plan(spark, sf_dir, "q84_funnel")
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "Join" not in plan


def test_q85_cohort_min_rides_the_window_not_a_join(spark, sf_dir):
    # cohort day must come from the per-user window MIN, not a self-join
    plan = _plan(spark, sf_dir, "q85_retention_cohorts")
    assert "Join" not in plan


def test_q86_scrub_consistent_with_q75_scores(spark, sf_dir):
    # differential against the detection operator: a doc removes tokens iff
    # q75 scored it as containing repeated grams, and every removal is
    # bounded by the span arithmetic (each repeated gram start covers at
    # most k tokens).
    from mapreduce_paper_implementation_spark.operators.text_analysis import (
        crossdoc_repeated_grams,
        scrub_repeated_substrings,
    )

    docs = load_table(spark, sf_dir, "documents")
    scores = {
        r["id"]: r["n_repeated"]
        for r in crossdoc_repeated_grams(docs, k=10).collect()
    }
    for r in scrub_repeated_substrings(docs, k=10).collect():
        n_rep = scores.get(r["id"], 0)
        if n_rep == 0:
            assert r["n_removed"] == 0, r
        else:
            assert 0 < r["n_removed"] <= min(r["n_tokens"], 10 * n_rep), (r, n_rep)


def test_q86_three_shuffles_no_cartesian(spark, sf_dir):
    # doc window, gram-hash repeated-set + flag join, doc window again: the
    # shuffle count must stay at 3 and the flag join must never be a
    # nested loop (a non-equi regression would be quadratic in positions).
    plan = _plan(spark, sf_dir, "q86_substring_scrub")
    assert plan.count("Exchange hashpartitioning") == 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_count_triangles_known_graphs(spark):
    # K4: 4 triangles, every node in 3. Plus a pendant edge (4-5): no new
    # triangles. Direction/multiplicity/self-loops must all be ignored.
    from mapreduce_paper_implementation_spark.operators.graph import count_triangles

    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]  # both dirs
    edges = spark.createDataFrame(
        k4 + [(4, 5), (5, 4), (2, 2)], ["src", "dst"]
    )
    got = {r["node"]: r["n_tri"] for r in count_triangles(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_q87_no_cartesian_and_conserved_total(spark, sf_dir):
    # wedge + closing joins must be equi-joins (a cartesian here is the
    # classic quadratic regression); per-node credits must sum to exactly
    # 3x the triangle total (every triangle credits its 3 vertices).
    from mapreduce_paper_implementation_spark.plans.queries import QUERIES

    plan = _plan(spark, sf_dir, "q87_triangle_count")
    assert "CartesianProduct" not in plan
    df = QUERIES["q87_triangle_count"](spark, sf_dir)
    total = df.agg(F.sum("n_tri")).collect()[0][0]
    assert total % 3 == 0 and total > 0


def test_streaming_histogram_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """foreachBatch histogram maintenance (streaming/rollup.py:
    histogram_maintainer): stream the events fixture through the maintainer
    and the served quantiles must equal the one-shot q80-path computation;
    replaying a committed batch id must not double-count."""
    from mapreduce_paper_implementation_spark.operators.incremental import (
        hist_state,
        quantiles_from_hist,
    )
    from mapreduce_paper_implementation_spark.streaming.events import stream_events
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        histogram_maintainer,
        maintain_rollup,
    )

    m = histogram_maintainer(spark, str(tmp_path / "state"))
    q = maintain_rollup(stream_events(spark, sf_dir), m, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    events = load_table(spark, sf_dir, "events")
    ranks = [("p50", "(n + 1) div 2"), ("p90", "(9 * n + 9) div 10")]

    def served(hist):
        return sorted(
            tuple(r)
            for r in quantiles_from_hist(hist, ["event_type"], ranks).collect()
        )

    expected = served(hist_state(events, ["event_type"], "value"))
    assert served(m.current_state()) == expected

    committed = m.store.pointer()
    m.update(events, committed)  # replay: must be a no-op
    assert served(m.current_state()) == expected
