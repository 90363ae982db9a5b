"""Differential gates for the additive-count maintainers in
streaming/rollup.py: qi_counts_maintainer (q92's streaming twin) and
source_bins_maintainer (q93's). After every batch the served view must
equal the batch query over everything ingested so far; replays are no-ops.
Both reuse the RollupMaintainer versioned exactly-once machinery — these
tests pin the state_fn/merge_fn algebra, not the (already-tested)
pointer discipline."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.plans.queries import QUERIES
from mapreduce_paper_implementation_spark.sources.tables import load_table
from mapreduce_paper_implementation_spark.operators.serving import kl_readout
from mapreduce_paper_implementation_spark.streaming.rollup import (
    k_anonymity_view,
    qi_counts_maintainer,
    source_bins_maintainer,
)


def test_qi_counts_match_q92_after_each_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    m = qi_counts_maintainer(spark, str(tmp_path / "qi"))
    n_batches = 3
    seen = None
    for bid in range(n_batches):
        b = events.where(F.col("event_id") % n_batches == bid)
        m.update(b, bid)
        seen = b if seen is None else seen.unionByName(b)
        got = sorted(map(tuple, k_anonymity_view(m.current_state()).collect()))
        # q92's pipeline over the ingested prefix
        exp = sorted(
            map(
                tuple,
                seen.select(
                    (F.expr("user_id div 10") * 10).cast("long").alias("user_bucket"),
                    "event_type",
                    F.expr(
                        f"unix_micros(ts) % {86400 * 10**6} div {3600 * 10**6}"
                    )
                    .cast("long")
                    .alias("hour_of_day"),
                )
                .groupBy("user_bucket", "event_type", "hour_of_day")
                .agg(F.count("*").cast("long").alias("n"))
                .withColumn("kept", F.col("n") >= 5)
                .collect(),
            )
        )
        assert got == exp, f"batch {bid}"
    # full ingest equals the manifest query itself
    final = sorted(map(tuple, k_anonymity_view(m.current_state()).collect()))
    q92 = sorted(map(tuple, QUERIES["q92_k_anonymity"](spark, sf_dir).collect()))
    assert final == q92
    # a group below k in batch 0 alone must flip to kept once history accrues
    b0_only = qi_counts_maintainer(spark, str(tmp_path / "qi0"))
    b0_only.update(events.where(F.col("event_id") % n_batches == 0), 0)
    kept_b0 = {
        t[:3]
        for t in map(tuple, k_anonymity_view(b0_only.current_state()).collect())
        if t[4]
    }
    kept_all = {t[:3] for t in final if t[4]}
    assert kept_b0 < kept_all  # strictly more groups cross k with history


def test_source_bins_match_q93_and_replay_noop(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    m = source_bins_maintainer(spark, str(tmp_path / "bins"))
    n_batches = 3
    for bid in range(n_batches):
        m.update(docs.where(F.col("doc_id") % n_batches == bid), bid)
    got = sorted(map(tuple, kl_readout(m.current_state()).collect()))
    q93 = sorted(map(tuple, QUERIES["q93_source_drift_kl"](spark, sf_dir).collect()))
    assert got == q93
    m.update(docs.where(F.col("doc_id") % n_batches == 1), 1)  # replay
    assert sorted(map(tuple, kl_readout(m.current_state()).collect())) == q93


def test_quality_hist_matches_q103_after_each_batch(spark, sf_dir, tmp_path):
    from mapreduce_paper_implementation_spark.operators.serving import (
        adaptive_threshold_from_hist,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        quality_hist_maintainer,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = quality_hist_maintainer(spark, str(tmp_path / "qh"))
    n_batches = 3
    for bid in range(n_batches):
        m.update(docs.where(F.col("doc_id") % n_batches == bid), bid)
    got = sorted(map(tuple, adaptive_threshold_from_hist(m.current_state()).collect()))
    q103 = sorted(map(tuple, QUERIES["q103_adaptive_quality"](spark, sf_dir).collect()))
    assert got == q103
    # replay is a no-op under the versioned pointer discipline
    m.update(docs.where(F.col("doc_id") % n_batches == 0), 0)
    assert (
        sorted(map(tuple, adaptive_threshold_from_hist(m.current_state()).collect())) == q103
    )


def test_ab_counters_match_q104_and_ratio_flip(spark, sf_dir, tmp_path):
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        ab_counters_maintainer,
        ab_test_view,
    )

    events = load_table(spark, sf_dir, "events")
    m = ab_counters_maintainer(spark, str(tmp_path / "ab"))
    n_batches = 4
    for bid in range(n_batches):
        m.update(events.where(F.col("event_id") % n_batches == bid), bid)
    got = ab_test_view(m.current_state()).collect()
    q104 = QUERIES["q104_ab_test"](spark, sf_dir).collect()
    assert list(map(tuple, got)) == list(map(tuple, q104))
    # conversion is a ratio: a user's flag must be able to FLIP as history
    # accrues — the per-user counters are the monoid, variant totals are
    # not. Check at least one user converts on some prefix but not overall.
    m1 = ab_counters_maintainer(spark, str(tmp_path / "ab1"))
    m1.update(events.where(F.col("event_id") % n_batches == 0), 0)
    conv = lambda st: {  # noqa: E731
        r["user_id"]
        for r in st.where(5 * F.col("n_purchases") >= F.col("n_events")).collect()
    }
    assert conv(m1.current_state()) != conv(m.current_state())


def test_digit_counts_match_q107_bitwise(spark, sf_dir, tmp_path):
    from mapreduce_paper_implementation_spark.operators.serving import benford_readout
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        digit_counts_maintainer,
    )

    events = load_table(spark, sf_dir, "events")
    m = digit_counts_maintainer(spark, str(tmp_path / "bf"))
    n_batches = 3
    for bid in range(n_batches):
        m.update(events.where(F.col("event_id") % n_batches == bid), bid)
    got = sorted(map(tuple, benford_readout(m.current_state()).collect()))
    q107 = sorted(map(tuple, QUERIES["q107_benford_audit"](spark, sf_dir).collect()))
    assert got == q107


def test_postings_match_q111_after_every_batch(spark, sf_dir, tmp_path):
    """Maintained postings serve the SAME top-10 as batch q111 once all
    batches land (shared bm25_readout), and the served ranking genuinely
    MOVES as ingest shifts document frequencies (the reason the index is
    maintained rather than scored per batch)."""
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        bm25_view,
        postings_maintainer,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = postings_maintainer(spark, str(tmp_path / "postings"))
    n_batches = 3
    prefix_top = []
    for bid in range(n_batches):
        m.update(docs.where(F.col("doc_id") % n_batches == bid), bid)
        prefix_top.append(list(map(tuple, bm25_view(m.current_state()).collect())))
    q111 = list(map(tuple, QUERIES["q111_bm25_topk"](spark, sf_dir).collect()))
    assert prefix_top[-1] == q111
    # the first-prefix ranking differs from the full-corpus one (df/idf and
    # even the corpus-derived query terms shift as history accrues)
    assert prefix_top[0] != prefix_top[-1]
    # replay no-op: the STATE must be invariant (update() always returns
    # None, so asserting on the return value would be vacuous)
    before = sorted(map(tuple, m.current_state().collect()))
    m.update(docs.where(F.col("doc_id") % n_batches == 0), 0)
    assert sorted(map(tuple, m.current_state().collect())) == before


def test_day_value_hist_matches_q112_and_late_data_moves_windows(spark, sf_dir, tmp_path):
    """Maintained per-day value histograms serve the SAME rolling p95 as
    batch q112 once all batches land (shared rolling_p95_readout), and a
    late batch for an old day genuinely MOVES already-served windows (the
    reason the histogram is maintained rather than appended)."""
    from mapreduce_paper_implementation_spark.operators.serving import (
        rolling_p95_readout,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        day_value_hist_maintainer,
    )

    events = load_table(spark, sf_dir, "events")
    m = day_value_hist_maintainer(spark, str(tmp_path / "dvh"))
    # batch 0: everything EXCEPT a slice of the earliest days' events;
    # batch 1: that late-arriving slice — old-day data landing after newer
    # days have already been served
    late = (F.col("event_id") % 5 == 0)
    m.update(events.where(~late), 0)
    first = sorted(map(tuple, rolling_p95_readout(m.current_state()).collect()))
    m.update(events.where(late), 1)
    got = sorted(map(tuple, rolling_p95_readout(m.current_state()).collect()))
    q112 = sorted(
        map(tuple, QUERIES["q112_rolling_p95"](spark, sf_dir).collect())
    )
    assert got == q112
    assert first != got  # the late fold moved served windows
    # replay no-op: the STATE must be invariant (update() always returns
    # None, so asserting on the return value would be vacuous)
    m.update(events.where(late), 1)
    assert sorted(map(tuple, rolling_p95_readout(m.current_state()).collect())) == got


def test_ntile_view_matches_q110_and_late_data_moves_cutpoints(spark, sf_dir, tmp_path):
    """Maintained (event_type, bin) histograms serve the SAME decile
    readout as batch q110 after every batch (shared tile_assign_via_hist +
    tile_decile_readout), and a late batch that shifts a type's value
    distribution genuinely MOVES the cutpoints — already-served rows
    re-tile, which a per-batch-only assigner would never do."""
    from mapreduce_paper_implementation_spark.operators.incremental import (
        hist_state,
        tile_assign_via_hist,
    )
    from mapreduce_paper_implementation_spark.operators.serving import (
        tile_decile_readout,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        histogram_maintainer,
        ntile_view,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    m = histogram_maintainer(spark, str(tmp_path / "hist"))
    n_batches = 3
    seen = None
    for bid in range(n_batches):
        b = events.where(F.col("event_id") % n_batches == bid)
        m.update(b, bid)
        seen = b if seen is None else seen.unionByName(b)
        served = sorted(
            map(
                tuple,
                tile_decile_readout(ntile_view(m.current_state(), seen)).collect(),
            )
        )
        batch = sorted(
            map(
                tuple,
                tile_decile_readout(
                    tile_assign_via_hist(
                        seen, ["event_type"], "value", n_tiles=10, inv_width=4
                    )
                ).collect(),
            )
        )
        assert served == batch, f"batch {bid}"
    # after the final batch the maintained state IS the corpus histogram,
    # so the served readout equals registered q110 over the full corpus
    q110 = sorted(
        map(tuple, QUERIES["q110_hist_tile_deciles"](spark, sf_dir).collect())
    )
    assert served == q110
    # late-data drift: a fixed probe frame re-tiles when a late batch
    # shifts one type's distribution (planted fat tail: value*10 clones of
    # one type's rows, fed as a LATE batch)
    probe = events.where(F.col("event_type") == "click")
    before = sorted(
        map(
            tuple,
            tile_decile_readout(ntile_view(m.current_state(), probe)).collect(),
        )
    )
    late = (
        events.where(F.col("event_type") == "click")
        .withColumn("value", F.col("value") * 10)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    m.update(late, n_batches)
    after = sorted(
        map(
            tuple,
            tile_decile_readout(ntile_view(m.current_state(), probe)).collect(),
        )
    )
    assert before != after  # the fat tail moved the click cutpoints
    # and the post-late state still equals a one-shot histogram over
    # everything ingested (additivity — the late fold is exact, not approx)
    merged = sorted(
        map(tuple, m.current_state().select("event_type", "bin", "cnt").collect())
    )
    oneshot = sorted(
        map(
            tuple,
            hist_state(
                seen.unionByName(late), ["event_type"], "value", 4
            ).collect(),
        )
    )
    assert merged == oneshot


def test_user_day_matches_q96_and_overlapping_reingest_is_exact(spark, sf_dir, tmp_path):
    """Maintained distinct (user, day) state serves the SAME trailing-7-day
    engagement series as batch q96 after every batch (shared
    sliding_distinct_readout), and — the set-union property the additive
    maintainers lack — OVERLAPPING re-ingest under a NEW batch id folds
    exactly: feeding half the corpus again changes nothing."""
    from mapreduce_paper_implementation_spark.operators.serving import (
        sliding_distinct_readout,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        user_day_maintainer,
    )

    events = load_table(spark, sf_dir, "events")
    m = user_day_maintainer(spark, str(tmp_path / "ud"))
    n_batches = 3
    seen = None
    for bid in range(n_batches):
        b = events.where(F.col("event_id") % n_batches == bid)
        m.update(b, bid)
        seen = b if seen is None else seen.unionByName(b)
        from mapreduce_paper_implementation_spark.operators.serving import (
            sliding_distinct_readout,
            user_day_frame,
        )

        served = sorted(
            map(tuple, sliding_distinct_readout(m.current_state()).collect())
        )
        batch = sorted(
            map(tuple, sliding_distinct_readout(user_day_frame(seen)).collect())
        )
        assert served == batch, f"batch {bid}"
    q96 = sorted(
        map(tuple, QUERIES["q96_sliding_distinct_users"](spark, sf_dir).collect())
    )
    assert served == q96
    # overlapping re-ingest with a NEW batch id (not a versioned replay —
    # genuinely re-fed data): set union is idempotent, served is unchanged
    m.update(events.where(F.col("event_id") % 2 == 0), n_batches)
    assert (
        sorted(map(tuple, sliding_distinct_readout(m.current_state()).collect())) == q96
    )


def test_postings_replace_recrawl_and_out_of_order(spark, sf_dir, tmp_path):
    """Replace-semantics retrieval index: a re-crawled doc REPLACES its
    postings (served == batch over the CURRENT corpus version), a late
    batch carrying an OLDER crawl is a per-doc no-op (max-version
    arbitration, not arrival order), and overlapping re-ingest of the
    same version folds exactly — none of which the additive
    postings_maintainer can express (its doc-disjoint precondition)."""
    from mapreduce_paper_implementation_spark.operators.serving import (
        bm25_readout,
        postings_frame,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        bm25_view,
        postings_replace_maintainer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawled = F.col("doc_id") % 5 == 0
    modified = docs.where(recrawled).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzzq zzzq zzzq"))
    )
    m = postings_replace_maintainer(spark, str(tmp_path / "pr"))
    m.update(docs.withColumn("crawl_ver", F.lit(0)), 0)
    m.update(modified.withColumn("crawl_ver", F.lit(1)), 1)
    served = list(map(tuple, bm25_view(m.current_state()).collect()))
    current = docs.where(~recrawled).unionByName(modified)
    batch = list(map(tuple, bm25_readout(postings_frame(current)).collect()))
    assert served == batch  # replace took effect, shared readout
    # every re-crawled doc's postings carry the planted token at tf=3 and
    # the NEW version only (state holds one version per doc)
    st = m.current_state()
    n_recrawled = docs.where(recrawled).count()
    planted = st.where((F.col("term") == "zzzq") & (F.col("tf") == 3)).count()
    assert planted == n_recrawled
    assert st.where(recrawled & (F.col("ver") != 1)).count() == 0
    # late arrival of the OLD version: per-doc no-op (ver 0 < ver 1)
    m.update(docs.where(recrawled).withColumn("crawl_ver", F.lit(0)), 2)
    assert list(map(tuple, bm25_view(m.current_state()).collect())) == batch
    # overlapping re-ingest of the CURRENT version under a new batch id:
    # bit-identical rows fold by set semantics
    m.update(modified.withColumn("crawl_ver", F.lit(1)), 3)
    assert list(map(tuple, bm25_view(m.current_state()).collect())) == batch
    # empty re-crawl (page deleted): the token-less version must WIN via
    # its tombstone — the doc drops out of served retrieval instead of
    # resurrecting its stale postings (the round-9 review bug)
    victim = modified.agg(F.min("doc_id")).collect()[0][0]
    emptied = (
        docs.where(F.col("doc_id") == victim)
        .withColumn("text", F.lit("  "))
        .withColumn("crawl_ver", F.lit(2))
    )
    m.update(emptied, 4)
    vic_rows = m.current_state().where(F.col("doc_id") == victim).collect()
    assert len(vic_rows) == 1 and vic_rows[0]["term"] is None
    assert vic_rows[0]["ver"] == 2 and vic_rows[0]["tf"] == 0
    current2 = current.where(F.col("doc_id") != victim)
    want2 = list(map(tuple, bm25_readout(postings_frame(current2)).collect()))
    assert list(map(tuple, bm25_view(m.current_state()).collect())) == want2


def test_hll_vocab_matches_batch_sketch_exactly(spark, sf_dir, tmp_path):
    """Maintained per-source HLL sketches serve estimates BIT-EQUAL to a
    one-shot sketch over everything ingested (register-max lattice:
    sketch(A) union sketch(B) == sketch(A union B) exactly), after every
    batch AND after overlapping re-ingest (idempotent merge) — and the
    estimates satisfy q114's bracket against the exact counts."""
    from mapreduce_paper_implementation_spark.operators.serving import (
        hll_estimate_readout,
        vocab_sketch_frame,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        hll_vocab_maintainer,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = hll_vocab_maintainer(spark, str(tmp_path / "hll"))
    n_batches = 3
    seen = None
    for bid in range(n_batches):
        b = docs.where(F.col("doc_id") % n_batches == bid)
        m.update(b, bid)
        seen = b if seen is None else seen.unionByName(b)
        served = sorted(
            map(tuple, hll_estimate_readout(m.current_state()).collect())
        )
        oneshot = sorted(
            map(tuple, hll_estimate_readout(vocab_sketch_frame(seen)).collect())
        )
        assert served == oneshot, f"batch {bid}"
    # full ingest: the q114 bracket holds on served estimates
    q114 = {r["source"]: r for r in QUERIES["q114_vocab_size"](spark, sf_dir).collect()}
    for src, est in served:
        assert abs(est - q114[src]["n_vocab"]) <= 0.05 * q114[src]["n_vocab"]
        assert q114[src]["est_ok"]
    # overlapping re-ingest under a NEW batch id: idempotent registers
    m.update(docs.where(F.col("doc_id") % 2 == 0), n_batches)
    assert sorted(map(tuple, hll_estimate_readout(m.current_state()).collect())) == served


def test_wordfreq_state_serves_q115_merge_table_after_every_batch(spark, sf_dir, tmp_path):
    """q115's streaming twin: fold doc-disjoint batches into the (w, freq)
    counter state; after EVERY batch the merge table retrained from state
    (bpe_merges_from_wordfreq) must equal bpe_train over the documents ingested so far —
    bit-exact, because the merge table is a pure function of exact integer
    word counts. Also pins the replay no-op as state invariance."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.tokenizer import (
        bpe_merges_from_wordfreq,
        bpe_train,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        wordfreq_maintainer,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    m = wordfreq_maintainer(spark, str(tmp_path / "wf_state"))
    n_batches = 3

    def rows(df):
        return [tuple(r) for r in df.collect()]

    for bid in range(n_batches):
        m.update(docs.where(F.col("doc_id") % n_batches == bid), bid)
        seen = docs.where(F.col("doc_id") % n_batches <= bid)
        served = rows(bpe_merges_from_wordfreq(m.current_state(), n_merges=6))
        batch = rows(bpe_train(seen, n_merges=6))
        assert served == batch, f"batch {bid}"
    # replay no-op: re-feeding an old batch id under ANY payload leaves
    # the state (and therefore the served merge table) untouched
    before = rows(m.current_state().orderBy("w"))
    m.update(docs, 1)
    assert rows(m.current_state().orderBy("w")) == before


def test_quantile_sketch_maintainer_weight_exact_and_bracket(spark, sf_dir, tmp_path):
    """q120's streaming twin (VERDICT r10 ask #2): after every batch the
    maintained sketch's TOTAL WEIGHT per event_type equals the exact
    ingested count (the sketch algebra is mass-preserving — only rank is
    approximate), and every served quantile estimate sits within the q120
    bracket (rank error <= 2%) of the exact order statistic over the
    ingested prefix. Replay is a no-op (versioned-pointer discipline)."""
    import math

    from mapreduce_paper_implementation_spark.operators.serving import (
        continuous_value_frame,
    )
    from mapreduce_paper_implementation_spark.operators.sketch import (
        quantiles_from_sketch,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        quantile_sketch_maintainer,
    )

    events = load_table(spark, sf_dir, "events")
    m = quantile_sketch_maintainer(spark, str(tmp_path / "qsk"))
    n_batches = 3
    phis = (0.5, 0.95, 0.99)
    seen = None
    for bid in range(n_batches):
        b = events.where(F.col("event_id") % n_batches == bid)
        m.update(b, bid)
        seen = b if seen is None else seen.unionByName(b)
        state = m.current_state()
        got_w = {
            r["event_type"]: r["w"]
            for r in state.groupBy("event_type")
            .agg(
                F.sum(
                    F.expr("size(items) * shiftleft(CAST(1 AS BIGINT), level)")
                ).alias("w")
            )
            .collect()
        }
        exact_vals: dict[str, list[float]] = {}
        for r in continuous_value_frame(seen).collect():
            exact_vals.setdefault(r["event_type"], []).append(r["v"])
        assert got_w == {g: len(v) for g, v in exact_vals.items()}, f"batch {bid}"
        for r in quantiles_from_sketch(state, "event_type", phis).collect():
            vals = sorted(exact_vals[r["event_type"]])
            n = len(vals)
            rank = sum(1 for v in vals if v <= r["est"])
            target = max(1, math.ceil(r["phi"] * n))
            assert abs(rank - target) <= max(1, 0.02 * n), (
                r["event_type"], r["phi"], rank, target, n,
            )
    # replay no-op
    before = sorted(map(tuple, m.current_state().collect()))
    m.update(events.where(F.col("event_id") % n_batches == 0), 0)
    assert sorted(map(tuple, m.current_state().collect())) == before


def test_wordfreq_state_serves_unigram_family_after_every_batch(spark, sf_dir, tmp_path):
    """q121/q122's streaming twins over the SAME wordfreq counter state
    that serves the BPE retrain: after every doc-disjoint batch, the unigram piece
    table retrained from state (unigram_view) and the greedy segmentation
    under the state-derived seed vocabulary (greedy_segment_view) must each
    equal their batch counterparts over the documents ingested so far —
    bit-exact, because both are pure functions of exact integer word
    counts. One counter state, three tokenizer serving surfaces."""
    from pyspark.sql import functions as F

    from mapreduce_paper_implementation_spark.operators.tokenizer import (
        greedy_segment,
        unigram_candidates,
        unigram_train,
        word_freq,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        greedy_segment_view,
        unigram_view,
        wordfreq_maintainer,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
        .localCheckpoint()
    )
    m = wordfreq_maintainer(spark, str(tmp_path / "wf_state"))
    n_batches = 2

    def rows(df):
        return sorted(map(tuple, df.collect()))

    for bid in range(n_batches):
        m.update(docs.where(F.col("doc_id") % n_batches == bid), bid)
        seen = docs.where(F.col("doc_id") % n_batches <= bid)
        wc = word_freq(seen).localCheckpoint()
        served_pieces = rows(unigram_view(m.current_state(), vocab_size=80, em_rounds=1))
        batch_pieces = rows(unigram_train(wc, vocab_size=80, max_len=4, em_rounds=1))
        assert served_pieces == batch_pieces, f"unigram batch {bid}"
        served_seg = rows(
            greedy_segment_view(m.current_state(), vocab_size=80).select(
                "w", F.array_join("subwords", " ")
            )
        )
        batch_seg = rows(
            greedy_segment(
                wc.select("w"), unigram_candidates(wc, vocab_size=80), max_len=4
            ).select("w", F.array_join("subwords", " "))
        )
        assert served_seg == batch_seg, f"greedy batch {bid}"
