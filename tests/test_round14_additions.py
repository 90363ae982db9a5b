"""Round-14 gates.

Crash-recovery commit markers (ADVICE r13 items 1-2): a maintainer batch
whose leaf writes completed but whose fold/pointer never committed must be
(a) invisible to every read, (b) purged before any later commit could
expose it, and (c) never misclassified as a genuine replay. Applied to
streaming/release_view.py and streaming/contamination_index.py.

Checkpoint-lifetime sweep (ADVICE r13 item 4 + VERDICT #3):
operators/caching.py:free_local_checkpoints releases the RDD blocks
clearCache() never touches, and fresh queries still work after a sweep.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.sources.tables import load_table


def _centroids_from(emb):
    return emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("long").alias("cell"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("c_vec"),
    )


def _empty_pairs(spark):
    return spark.createDataFrame([], "id_a long, id_b long, jaccard double")


def test_release_view_crash_residue_invisible_and_purged(spark, sf_dir, tmp_path):
    """The ADVICE r13 medium: batch N's leaves written, crash before
    cc.update/pointer, batch N+1 commits — N's meta/grams/cells must NOT
    become silently visible (its pair delta never reached the label
    table). Marker-filtered reads + purge-before-ingest close the hole."""
    from mapreduce_paper_implementation_spark.streaming.release_view import (
        ReleaseCutView,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    view = ReleaseCutView(spark, str(tmp_path / "state"), _centroids_from(emb))

    sel = lambda lo, hi: (  # noqa: E731
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
        emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
    )
    d1, e1 = sel(0, 100)
    view.update(d1, e1, _empty_pairs(spark), 1)

    # simulate a crash AFTER batch 2's leaf writes, BEFORE cc.update/marker:
    # write all three leaves by hand, no _COMMITTED marker
    d2, e2 = sel(100, 200)
    for leaf, frame in [
        ("meta", d2.select("doc_id", "source")),
        ("grams", d2.select("doc_id")),
        ("cells", e2.select(F.col("vec_id").alias("id"))),
    ]:
        frame.write.mode("overwrite").parquet(view.store.batch_dir(2, leaf))
    assert os.path.isdir(view.store.batch_dir(2, "meta"))

    # batch 3 commits; batch 2's residue must be purged, not exposed
    d3, e3 = sel(200, 300)
    view.update(d3, e3, _empty_pairs(spark), 3)
    assert not os.path.isdir(view.store.batch_dir(2, "meta")), "residue outlived commit"
    ids = {r["doc_id"] for r in view.store.read_leaf(spark, "meta").select("doc_id").collect()}
    assert ids == {r["doc_id"] for r in d1.unionByName(d3).collect()}

    # replaying batch 2 now raises (never fully ingested, pointer passed it)
    with pytest.raises(ValueError, match="never ingested"):
        view.update(d2, e2, _empty_pairs(spark), 2)
    # replay of a genuinely committed batch stays a no-op
    assert view.update(d3, e3, _empty_pairs(spark), 3) is None


def test_release_view_partial_residue_reingested_before_commit(spark, sf_dir, tmp_path):
    """The ADVICE r13 low: meta-only residue (crash between leaf writes)
    used to classify as a replay once the pointer passed it; before the
    pointer passes it, a retry of the SAME batch id must purge the partial
    dirs and re-ingest all three leaves."""
    from mapreduce_paper_implementation_spark.streaming.release_view import (
        ReleaseCutView,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    view = ReleaseCutView(spark, str(tmp_path / "state"), _centroids_from(emb))
    d1 = docs.where(F.col("doc_id") < 100)
    e1 = emb.where(F.col("vec_id") < 100)
    # meta leaf only — the mid-write crash shape
    d1.select("doc_id", "source").write.mode("overwrite").parquet(
        view.store.batch_dir(1, "meta")
    )
    view.update(d1, e1, _empty_pairs(spark), 1)  # retry re-ingests fully
    for leaf in ("meta", "grams", "cells"):
        assert os.path.isdir(view.store.batch_dir(1, leaf))
    assert os.path.exists(view.store.marker_path(1))
    assert view.store.read_leaf(spark, "grams") is not None
    # and the retry is visible: replay is now a marker-keyed no-op
    assert view.update(d1, e1, _empty_pairs(spark), 1) is None


def test_contamination_crash_residue_purged_and_replay_contract(
    spark, sf_dir, tmp_path
):
    """Same two holes on the contamination index: unmarked residue is
    purged before a later commit, current() equals the one-shot over the
    batches that actually committed, and replay detection keys on the
    marker (plus the baseline floor after compact)."""
    from mapreduce_paper_implementation_spark.streaming.contamination_index import (
        ContaminationIndexMaintainer,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    m = ContaminationIndexMaintainer(spark, str(tmp_path / "state"))
    b1 = docs.where(F.col("doc_id") < 170)
    b2 = docs.where((F.col("doc_id") >= 170) & (F.col("doc_id") < 340))
    b3 = docs.where(F.col("doc_id") >= 340)

    assert m.update(b1, 1) is not None
    # crash residue for batch 2: eval_grams leaf only, no marker
    m._gram_frame(b2).where(F.col("split") != "train").write.mode(
        "overwrite"
    ).parquet(m.store.batch_dir(2, "eval_grams"))

    assert m.update(b3, 3) is not None
    assert not os.path.isdir(m.store.batch_dir(2, "eval_grams")), "residue survived"
    # view == one-shot over batches 1+3 only (batch 2 never committed)
    from tests.test_contamination_index import _one_shot, _rows

    from mapreduce_paper_implementation_spark.operators.serving import split_of

    assert _rows(m.current()) == _rows(_one_shot(b1.unionByName(b3), split_of))
    with pytest.raises(ValueError, match="never ingested"):
        m.update(b2, 2)
    assert m.update(b3, 3) is None  # marker-keyed replay no-op
    # after compact the dirs (and markers) fold away; the baseline floor
    # still classifies old ids as replays
    m.compact()
    assert m.update(b1, 1) is None


def test_free_local_checkpoints_sweeps_blocks(spark):
    """clearCache() does not release localCheckpoint storage; the sweep
    does, and a FRESH query after the sweep is unaffected. (Consuming a
    pre-sweep checkpointed frame would fail loudly — the documented
    contract — so the bench/driver loops only sweep at query boundaries.)"""
    from mapreduce_paper_implementation_spark.operators.caching import (
        free_local_checkpoints,
    )
    from mapreduce_paper_implementation_spark.operators.sort import global_rank

    df = spark.range(10000).select(
        F.col("id"), (F.col("id") % 97).alias("v")
    )
    ranked = global_rank(df, [F.col("v").asc(), F.col("id").asc()], "rnk")
    assert ranked.count() == 10000
    spark.catalog.clearCache()
    n_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_before > 0, "global_rank should have left checkpoint blocks"
    assert free_local_checkpoints(spark) == n_before
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    # fresh build after the sweep works and is correct
    again = global_rank(df, [F.col("v").asc(), F.col("id").asc()], "rnk")
    top = again.orderBy("rnk").limit(1).collect()[0]
    assert (top["v"], top["rnk"]) == (0, 1)
    free_local_checkpoints(spark)


def test_mixture_export_roundtrip_manifest_and_atomicity(spark, sf_dir, tmp_path):
    """VERDICT r13 ask #1 gates, one export:

    (a) re-read equality — exported rows (payload included) == the
        mixture_stream_frame assignment (one lineage);
    (b) manifest == gated plan — per-(epoch, shard) counts equal q136's
        hash-gated rows AND per-source totals equal q134's hash-gated
        integer columns (the repetition schedule is consumed exactly);
    (c) atomic versioning — second export bumps, torn write invisible."""
    import json as _json

    from mapreduce_paper_implementation_spark.plans.queries import QUERIES
    from mapreduce_paper_implementation_spark.plans.release_queries import (
        mixture_stream_frame,
    )
    from mapreduce_paper_implementation_spark.sources.mixture_export import (
        export_mixture,
        read_mixture,
    )

    out = str(tmp_path / "mixture")
    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select("doc_id", "text")
    assert export_mixture(spark, docs, out, payload=payload) == 1

    got, manifest = read_mixture(spark, out)
    # (a) re-read equality, payload included — every COPY carries the text
    want = sorted(
        tuple(r)
        for r in mixture_stream_frame(docs)
        .join(payload, "doc_id")
        .select("doc_id", "source", "tc", "epoch", "shard", "text")
        .collect()
    )
    assert (
        sorted(
            tuple(r)
            for r in got.select(
                "doc_id", "source", "tc", "epoch", "shard", "text"
            ).collect()
        )
        == want
    )
    # (b) manifest vs the two hash-gated plans
    q136 = QUERIES["q136_mixture_epoch_stream"](spark, sf_dir).collect()
    assert {
        (c["epoch"], c["shard"]): (c["n_docs"], c["n_tokens"])
        for c in manifest["shards"]
    } == {(r["epoch"], r["shard"]): (r["n_docs"], r["n_tokens"]) for r in q136}
    q134 = QUERIES["q134_budgeted_sample"](spark, sf_dir).collect()
    assert {
        s["source"]: (
            s["n_docs_kept"],
            s["n_tokens_kept"],
            s["allocated"],
            s["full_epochs"],
        )
        for s in manifest["sources"]
    } == {
        r["source"]: (
            r["n_docs_kept"],
            r["n_tokens_kept"],
            r["allocated"],
            r["full_epochs"],
        )
        for r in q134
    }
    assert manifest["totals"]["n_tokens"] == sum(
        r["n_tokens_kept"] for r in q134
    )
    # (c) versioning + torn-write invisibility
    assert export_mixture(spark, docs, out, payload=payload) == 2
    torn = tmp_path / "mixture" / "v0000000003"
    torn.mkdir()
    (torn / "manifest.json").write_text(_json.dumps({"version": 3}))
    _, m = read_mixture(spark, out)
    assert m["version"] == 2  # pointer never moved; v3 is invisible


def test_mixture_epoch_semantics(spark, sf_dir):
    """Structural properties of the materialized repetition schedule:
    epoch e contains EXACTLY the docs with ncopies > e (full passes are
    complete source copies; the last partial epoch is the md5-order
    head), and within every epoch the token-balanced cut bounds the
    max-min shard spread by one boundary document."""
    from mapreduce_paper_implementation_spark.plans.release_queries import (
        _mixture_sample_parts,
        mixture_stream_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    stream = mixture_stream_frame(docs)
    scum, alloc = _mixture_sample_parts(docs)
    ncopies = {
        r["doc_id"]: r["nc"]
        for r in scum.join(F.broadcast(alloc), "source")
        .select(
            "doc_id",
            (
                F.col("full_epochs")
                + F.when(F.col("scum") < F.col("rem"), 1).otherwise(0)
            ).alias("nc"),
        )
        .collect()
    }
    rows = stream.collect()
    by_epoch: dict[int, set] = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], set()).add(r["doc_id"])
    for e, ids in by_epoch.items():
        assert ids == {d for d, nc in ncopies.items() if nc > e}, f"epoch {e}"
    # per-epoch shard balance: spread <= 2x max doc (the q132 bound)
    import collections

    toks = collections.Counter()
    for r in rows:
        toks[(r["epoch"], r["shard"])] += r["tc"]
    max_doc = max(r["tc"] for r in rows)
    for e in by_epoch:
        vals = [v for (ee, _), v in toks.items() if ee == e]
        assert max(vals) - min(vals) <= 2 * max_doc, f"epoch {e} unbalanced"


def test_q135_ann_indexed_equals_q118_and_never_trains(spark, sf_dir, tmp_path):
    """q135 (VERDICT r13 #4): the registered indexed-ANN row must (a)
    return exactly q118's rows (bit-deterministic training contract), and
    (b) NEVER train in the plan — with no env index published, its
    scratch publication happens at most once; the second build triggers
    only parquet listing jobs and scans the published leaves."""
    from mapreduce_paper_implementation_spark.plans.curation_queries import (
        _q135_index,
    )
    from mapreduce_paper_implementation_spark.plans.queries import QUERIES

    # warm the scratch publication (first-ever call on this corpus may
    # train; every later call must not)
    _q135_index(spark, sf_dir)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    df = QUERIES["q135_ann_indexed"](spark, sf_dir)
    after = len(tracker.getJobIdsForGroup() or [])
    assert after - before <= 6, (
        f"q135 plan build ran {after - before} Spark jobs — more than "
        "parquet listing can explain (inline training?)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ann_scratch" in plan or "ann_index" in plan
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(
        tuple(r) for r in QUERIES["q118_ann_ivf_pq"](spark, sf_dir).collect()
    )
    assert got == want


def test_mixture_view_matches_q133_after_every_batch(spark, sf_dir, tmp_path):
    """VERDICT r13 ask #2: the served water-filling allocation (additive
    per-source token counters + the shared q133 expression tree) must
    equal the batch q133 over the seen corpus after EVERY ingest batch,
    be replay-invariant, survive vacuum, and land exactly on the
    registered q133 once the whole corpus is ingested."""
    from mapreduce_paper_implementation_spark.plans.queries import QUERIES
    from mapreduce_paper_implementation_spark.plans.release_queries import (
        _mixture_alloc_frame,
        mixture_plan_readout,
    )
    from mapreduce_paper_implementation_spark.streaming.mixture_view import (
        mixture_plan_view,
        source_tokens_maintainer,
    )

    docs = load_table(spark, sf_dir, "documents")
    m = source_tokens_maintainer(spark, str(tmp_path / "state"))
    assert mixture_plan_view(m) is None  # pre-first-batch contract
    bounds = [(0, 170), (170, 340), (340, 10**9)]
    for i, (lo, hi) in enumerate(bounds, start=1):
        batch = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        m.update(batch, i)
        seen = docs.where(F.col("doc_id") < hi)
        got = sorted(tuple(r) for r in mixture_plan_view(m).collect())
        want = sorted(
            tuple(r)
            for r in mixture_plan_readout(_mixture_alloc_frame(seen)).collect()
        )
        assert got == want, f"batch {i}: served allocation diverges"
    # replay is a version-pointer no-op; the view must not move
    m.update(docs.where(F.col("doc_id") < 170), 1)
    after_replay = sorted(tuple(r) for r in mixture_plan_view(m).collect())
    assert after_replay == got
    # vacuum superseded versions; the committed view must not move
    m.vacuum()
    assert sorted(tuple(r) for r in mixture_plan_view(m).collect()) == got
    # and the served plan == the registered hash-gated q133 exactly
    reg = sorted(
        tuple(r)
        for r in QUERIES["q133_mixture_allocation"](spark, sf_dir).collect()
    )
    assert got == reg


def test_packed_release_export_roundtrip_and_properties(spark, sf_dir, tmp_path):
    """VERDICT r13 stretch #7 gates: (a) re-read equality — the exported
    (split, shard, doc_id, tc, bin_id) rows equal the inline q59
    recurrence (pack_bins) over the same release-cut corpus; (b) bin
    properties — per-bin token sums respect the cap unless a single doc
    exceeds it, and bin ids are dense per (split, shard); (c) manifest
    counts == files; (d) atomic versioning."""
    from mapreduce_paper_implementation_spark.operators.packing import pack_bins
    from mapreduce_paper_implementation_spark.plans.release_queries import (
        release_cut_frames,
    )
    from mapreduce_paper_implementation_spark.sources.release_export import (
        export_packed_release,
        read_packed_release,
    )

    out = str(tmp_path / "packed")
    perdoc, _ = release_cut_frames(spark, sf_dir)
    perdoc = perdoc.localCheckpoint()
    assert export_packed_release(spark, perdoc, out, cap=512) == 1
    got, manifest = read_packed_release(spark, out)

    # (a) equality vs the inline recurrence on the same cut
    inline = pack_bins(
        perdoc.select(
            F.concat_ws("|", F.col("split"), F.col("shard").cast("string")).alias(
                "source"
            ),
            "doc_id",
            "tc",
        ),
        cap=512,
        n_shards=4,
    )
    want = sorted(
        (r["source"].split("|")[0], int(r["source"].split("|")[1]), r["doc_id"], r["tc"], r["bin_id"])
        for r in inline.collect()
    )
    rows = sorted(
        (r["split"], r["shard"], r["doc_id"], r["tc"], r["bin_id"])
        for r in got.collect()
    )
    assert rows == want

    # (b) capacity + dense ids
    import collections

    bins = collections.defaultdict(list)
    for s, sh, d, tc, b in rows:
        bins[(s, sh, b)].append(tc)
    for (s, sh, b), tcs in bins.items():
        assert sum(tcs) <= 512 or len(tcs) == 1, f"overfull bin {(s, sh, b)}"
    per_shard = collections.defaultdict(set)
    for (s, sh, b) in bins:
        per_shard[(s, sh)].add(b)
    for k, ids in per_shard.items():
        assert ids == set(range(len(ids))), f"non-dense bins in {k}"

    # (c) manifest == files
    agg = collections.defaultdict(lambda: [set(), 0, 0])
    for s, sh, d, tc, b in rows:
        a = agg[(s, sh)]
        a[0].add(b)
        a[1] += 1
        a[2] += tc
    assert {
        (c["split"], c["shard"]): (c["n_bins"], c["n_docs"], c["n_tokens"])
        for c in manifest["shards"]
    } == {k: (len(v[0]), v[1], v[2]) for k, v in agg.items()}
    assert manifest["cap"] == 512

    # (d) versioning: second export bumps; pointer-less dir invisible
    assert export_packed_release(spark, perdoc, out, cap=512) == 2
    _, m2 = read_packed_release(spark, out)
    assert m2["version"] == 2


def test_mixture_export_from_maintained_meta_equals_docs_mode(
    spark, sf_dir, tmp_path
):
    """maintain -> budget -> export without re-tokenizing: exporting the
    mixture from a maintained (doc_id, source, tc) meta frame (the
    release-view leaf shape) must produce byte-identical shard rows and
    manifest to the docs-mode export over the same corpus."""
    import json as _json

    from mapreduce_paper_implementation_spark.functions.text import token_count
    from mapreduce_paper_implementation_spark.sources.mixture_export import (
        export_mixture,
        read_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    meta = docs.select(
        "doc_id", "source", token_count("text").cast("long").alias("tc")
    )
    export_mixture(spark, docs, str(tmp_path / "a"))
    export_mixture(spark, None, str(tmp_path / "b"), meta=meta)
    da, ma = read_mixture(spark, str(tmp_path / "a"))
    db, mb = read_mixture(spark, str(tmp_path / "b"))
    assert sorted(map(tuple, da.collect())) == sorted(map(tuple, db.collect()))
    ma.pop("version"); mb.pop("version")
    assert _json.dumps(ma, sort_keys=True) == _json.dumps(mb, sort_keys=True)


def test_mixture_export_off_release_view_meta(spark, sf_dir, tmp_path):
    """maintain -> budget -> export as one composition: the mixture
    export fed by ReleaseCutView's maintained meta leaf must equal the
    docs-mode export over the seen corpus — the ingested token counts ARE
    a fresh parse (each ingest projection shares the expression tree)."""
    import json as _json

    from mapreduce_paper_implementation_spark.sources.mixture_export import (
        export_mixture,
        read_mixture,
    )
    from mapreduce_paper_implementation_spark.streaming.release_view import (
        ReleaseCutView,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    view = ReleaseCutView(spark, str(tmp_path / "state"), _centroids_from(emb))
    for i, (lo, hi) in enumerate([(0, 250), (250, 10**9)], start=1):
        view.update(
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            _empty_pairs(spark),
            i,
        )
    export_mixture(spark, None, str(tmp_path / "fromview"), meta=view.meta())
    export_mixture(spark, docs, str(tmp_path / "fromdocs"))
    dv, mv = read_mixture(spark, str(tmp_path / "fromview"))
    dd, md = read_mixture(spark, str(tmp_path / "fromdocs"))
    assert sorted(map(tuple, dv.collect())) == sorted(map(tuple, dd.collect()))
    mv.pop("version"); md.pop("version")
    assert _json.dumps(mv, sort_keys=True) == _json.dumps(md, sort_keys=True)


# ---------------------------------------------------------------------------
# Round-14 OPTIMIZATION gates — the rewrites must preserve the previous
# formulations' exact semantics (OPTIMIZATION_r14.md):
#   (1) narrow argmin/top-n cell assignment == the old crossJoin(k) +
#       row_number window formulation, row for row;
#   (2) kmeans_fit's driver-held Lloyd loop == the old all-Spark loop;
#   (3) the one-pass PQ encode == the old per-subspace assignment union;
#   (4) the BPE training loop runs ONE Spark job per merge round (the
#       collected 1-row winner + literal-replace apply), and assignment
#       plans carry no per-vector window shuffle.
# ---------------------------------------------------------------------------


def test_assign_cells_narrow_matches_window_formulation_and_plan(spark, sf_dir):
    from pyspark.sql import Window

    from mapreduce_paper_implementation_spark.functions.vectors import (
        cosine,
        norm,
        to_double_vec,
    )
    from mapreduce_paper_implementation_spark.operators.dedup import assign_cells
    from mapreduce_paper_implementation_spark.operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=16, max_iter=2, tol=0.0)
    got = assign_cells(emb, cents, nassign=2)

    # the pre-round-14 formulation, inline: crossJoin + row_number window
    ref_c = cents.select("cell", "c_vec", norm(F.col("c_vec")).alias("c_nrm"))
    v = emb.select(
        F.col("vec_id").alias("id"), to_double_vec("embedding").alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    scored = v.crossJoin(F.broadcast(ref_c)).select(
        "id",
        "cell",
        F.round(
            cosine(F.col("vec"), F.col("c_vec"), F.col("nrm"), F.col("c_nrm")), 6
        ).alias("c_cos"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("c_cos"), F.asc("cell"))
    ref = (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= 2)
        .select("id", F.col("cell").cast("int").alias("cell"))
    )
    got_rows = sorted((r["id"], r["cell"]) for r in got.select("id", "cell").collect())
    ref_rows = sorted((r["id"], r["cell"]) for r in ref.collect())
    assert got_rows == ref_rows

    # plan gate: assignment is narrow — no window, no hash exchange of the
    # vectors (the only exchanges are the 1-row centroid-array broadcast
    # build's SinglePartition agg)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_kmeans_fit_matches_pre_round14_all_spark_loop(spark, sf_dir):
    from pyspark.sql import Window

    from mapreduce_paper_implementation_spark.functions.vectors import to_double_vec
    from mapreduce_paper_implementation_spark.operators.kmeans import (
        _sq_dist,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r["cell"]: list(r["c_vec"]) for r in kmeans_fit(emb, k=8, max_iter=2, tol=0.0).collect()}

    # the pre-round-14 loop, inline: explode+window assign, distributed
    # means, left-join coalesce — bit-for-bit the old operator
    v = emb.select(F.col("vec_id").alias("id"), to_double_vec("embedding").alias("vec")).localCheckpoint()
    cents = (
        v.orderBy("id")
        .limit(8)
        .select(
            F.row_number().over(Window.orderBy("id")).alias("cell"),
            F.col("vec").alias("c_vec"),
        )
        .localCheckpoint()
    )
    for _ in range(2):
        scored = v.crossJoin(F.broadcast(cents)).select(
            "id", "vec", "cell", F.round(_sq_dist(F.col("vec"), F.col("c_vec")), 6).alias("d2")
        )
        w = Window.partitionBy("id").orderBy(F.asc("d2"), F.asc("cell"))
        assigned = (
            scored.withColumn("r", F.row_number().over(w)).where(F.col("r") == 1).select("vec", "cell")
        )
        means = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("n_vec")
            )
        )
        cents = (
            cents.join(means, "cell", "left")
            .select("cell", F.coalesce("n_vec", "c_vec").alias("c_vec"))
            .localCheckpoint()
        )
    ref = {r["cell"]: list(r["c_vec"]) for r in cents.collect()}
    assert got == ref


def test_pq_encode_matches_pre_round14_per_subspace_assign(spark, sf_dir):
    from mapreduce_paper_implementation_spark.operators.kmeans import _assign
    from mapreduce_paper_implementation_spark.operators.similarity import (
        normalized,
        pq_encode,
        pq_train,
    )
    from mapreduce_paper_implementation_spark.functions.vectors import to_double_vec

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=8, ks=16, dim=64)
    got = sorted(
        (r["vec_id"], r["sub_j"], r["code"])
        for r in pq_encode(emb, books, m=8, dim=64).collect()
    )
    nv = emb.select(
        F.col("vec_id").alias("vec_id"), normalized(to_double_vec("embedding")).alias("nvec")
    )
    ref = []
    for j in range(8):
        vj = nv.select(F.col("vec_id").alias("id"), F.slice("nvec", j * 8 + 1, 8).alias("vec"))
        cbj = books.where(F.col("sub_j") == j).select(F.col("code").alias("cell"), "c_vec")
        ref.extend(
            (r["id"], j, r["cell"]) for r in _assign(vj, cbj).select("id", "cell").collect()
        )
    assert got == sorted(ref)


def test_bpe_training_loop_is_one_job_per_round(spark, sf_dir):
    """Round-14 loop shape: n_merges rounds cost n_merges winner jobs over
    the checkpointed vocab (plus the checkpoint itself) — the old loop's
    per-round winner checkpoint + isEmpty + vocab checkpoint tripled it."""
    from mapreduce_paper_implementation_spark.operators.tokenizer import (
        bpe_merges_from_wordfreq,
        word_freq,
    )

    docs = load_table(spark, sf_dir, "documents")
    wc = word_freq(docs).localCheckpoint()  # exclude corpus-scan jobs
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    merges = bpe_merges_from_wordfreq(wc, 5)
    after = len(tracker.getJobIdsForGroup() or [])
    assert merges.count() == 5
    # 1 vocab checkpoint + per round ONE winner action (2 jobs under AQE:
    # the agg-exchange stage + the TakeOrdered result stage). The old loop
    # added a winner localCheckpoint + isEmpty + a vocab localCheckpoint
    # per round on top (~5 jobs/round).
    assert after - before <= 2 * 5 + 2, (
        f"bpe_merges_from_wordfreq(5) ran {after - before} jobs — the "
        "one-action-per-round loop regressed"
    )
