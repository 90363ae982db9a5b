#!/usr/bin/env python
"""Scale-stress bench for the dedup/ANN paths (VERDICT r04 ask #1).

Runs the scale-critical operators — q18 MinHash+LSH, q20 exact n-gram
Jaccard, q21 blocked-GEMM embedding near-dup, q29 trained-IVF ANN, q41
dedup clustering, q70 incremental near-dup, q72 SemDeDup, q73 bloom
membership, q74 PageRank, q75 cross-doc boilerplate — on generated corpora 1x/3x/10x
the sf0.1 fixture size (scripts/gen_scale.py: planted near-dup clusters,
Zipf sources), and records per-factor wall-times, planted-pair recall /
precision, and the empirical scaling exponent between successive factors
(exp = log(t_hi/t_lo) / log(f_hi/f_lo); bucketed designs should land ~1,
an all-pairs design would land ~2).

Thresholds here are chosen for the synthetic corpus (q20/q41 run at 0.5
rather than the fixture manifest's 0.1: independent Zipf docs make J in
[0.1, 0.5) empty by construction, so 0.5 tests the identical plan while
keeping ground truth exact), and q21 runs at 0.85 (random 64-d unit pairs
have cos ~ N(0, 1/8); 0.85 is 6.8 sigma, so planted pairs are the only
positives). Pairs whose true score is within truth.json's eps of a
threshold are excluded from recall/extras (HALF_UP-vs-half-even rounding on
the exact boundary is not a correctness signal).

Timing is wall-clock around a full collect() — result sets are bounded by
the planted-pair count, so driver fetch is negligible. Caches are released
between queries exactly as bench.py does.

Output: one pretty-printed JSON (default BENCH_SCALE.json at the repo
root), also echoed to stdout.

Usage:
    python scripts/bench_scale.py --factors 1,3,10 [--out BENCH_SCALE.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from gen_scale import generate  # noqa: E402
from mapreduce_paper_implementation_spark.operators.caching import (  # noqa: E402
    release_persisted,
)
from mapreduce_paper_implementation_spark.operators.dedup import (  # noqa: E402
    embedding_neardup_pairs_blocked,
    incremental_neardup,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    semantic_decontaminate,
    semantic_dedup_pairs,
)
from mapreduce_paper_implementation_spark.operators.graph import (  # noqa: E402
    dedup_clusters,
    pagerank,
)
from mapreduce_paper_implementation_spark.operators.membership import (  # noqa: E402
    seen_membership,
)
from mapreduce_paper_implementation_spark.operators.text_analysis import (  # noqa: E402
    crossdoc_repeated_grams,
)
from mapreduce_paper_implementation_spark.operators.kmeans import kmeans_fit  # noqa: E402
from mapreduce_paper_implementation_spark.operators.similarity import (  # noqa: E402
    ivf_pq_topk,
    ivf_topk,
)
from mapreduce_paper_implementation_spark.session import get_spark  # noqa: E402
from mapreduce_paper_implementation_spark.sources.tables import load_table  # noqa: E402

J_THRESH = 0.8  # q18 / q70
CLUSTER_THRESH = 0.5  # q20 / q41 on the synthetic corpus (see module docstring)
CONT_THRESH = 0.5  # q105 (gen_scale gates sampled cross containment < 0.4)
COS_THRESH = 0.85  # q21 on random-unit-vector corpus
IVF_K = 3
IVF_NPROBE = 4
IVF_CELLS = 16


def _positives(pairs, thresh, eps):
    """(positives, dont_care) id-pair sets at a threshold, eps band excluded."""
    pos, band = set(), set()
    for a, b, s in pairs:
        key = (min(a, b), max(a, b))
        if abs(s - thresh) < eps:
            band.add(key)
        elif s >= thresh:
            pos.add(key)
    return pos, band


def _pair_metrics(predicted, pairs, thresh, eps):
    pos, band = _positives(pairs, thresh, eps)
    pred = {(min(a, b), max(a, b)) for a, b in predicted} - band
    hit = len(pred & pos)
    return {
        "planted_positives": len(pos),
        "predicted": len(pred),
        "hit": hit,
        "recall": round(hit / len(pos), 4) if pos else None,
        "extras": len(pred - pos),
    }


def _components(pairs, thresh, eps):
    """Union-find over planted pairs >= thresh (eps-band pairs excluded —
    they may legitimately land either side)."""
    pos, _ = _positives(pairs, thresh, eps)
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pos:
        parent[find(a)] = find(b)
    comps: dict[int, set] = {}
    for x in list(parent):
        comps.setdefault(find(x), set()).add(x)
    return {frozenset(c) for c in comps.values()}


def _make_timed(spark, repeat: int = 2):
    """Best-of-N wall timer (bench.py's convention: this box shows 2x in-run
    JIT/GC spikes in long single-JVM sessions; min-of-N reports the engine's
    cost, not the spike). Caches are swept between attempts so a repeat
    measures a cold plan, not the previous attempt's persisted frames."""

    def _timed(fn):
        best, out = None, None
        for _ in range(repeat):
            t0 = time.perf_counter()
            res = fn()
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best = dt
            if out is None:
                out = res
            release_persisted()
            spark.catalog.clearCache()
        return best, out

    return _timed


_EV_DAYS, _EV_TYPES, _EV_CENTS = 30, 4, 2000
_DAY_US = 86_400_000_000


def _ensure_scale_events(spark, ds_dir: str, n_events: int) -> None:
    """Deterministic events table for the quantile-op scale rows: day =
    i % 30 (fixed span — state never grows with factor), type cycles over
    4 values, cent = Knuth-hash of i into 1..2000. Written once per factor
    dir; the closed form lets numpy replay the exact truth at any size."""
    path = os.path.join(ds_dir, "events.parquet")
    if os.path.exists(path):
        return
    i = F.col("id")
    (
        spark.range(n_events)
        .select(
            i.alias("event_id"),
            F.timestamp_micros(
                (i % _EV_DAYS) * _DAY_US + F.expr(f"id div {_EV_DAYS}")
            ).alias("ts"),
            (i % 1000).alias("user_id"),
            F.concat(
                F.lit("t"), (F.expr(f"id div {_EV_DAYS}") % _EV_TYPES).cast("string")
            ).alias("event_type"),
            (
                (((i * 2654435761) % (2**31)) % _EV_CENTS + 1).cast("double") / 100.0
            ).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def _events_truth_arrays(n: int):
    i = np.arange(n, dtype=np.int64)
    cent = ((i * 2654435761) % (2**31)) % _EV_CENTS + 1
    day = i % _EV_DAYS
    tidx = (i // _EV_DAYS) % _EV_TYPES
    return cent, day, tidx


def _py_q110_cuts(cent, tidx, n_tiles: int = 10) -> dict:
    """Exact NTILE boundary bins per type (bin = floor(value*4) = cent//25;
    every cent divisible by 25 is an exact k/4 binary fraction, so the
    float path in Spark bins identically)."""
    cuts: dict = {}
    for t in range(_EV_TYPES):
        c = cent[tidx == t]
        bins = c // 25
        cum = np.cumsum(np.bincount(bins, minlength=_EV_CENTS // 25 + 1))
        n = int(c.size)
        for k in range(1, n_tiles):
            tgt = k * (n // n_tiles) + min(k, n % n_tiles)
            cuts[(f"t{t}", k)] = int(np.searchsorted(cum, tgt))
    return cuts


def _py_q110(cent, tidx, n_tiles: int = 10) -> dict:
    """q110's full output: per (type, tile) count + min/max value."""
    cutmap = _py_q110_cuts(cent, tidx, n_tiles)
    out: dict = {}
    for t in range(_EV_TYPES):
        c = cent[tidx == t]
        bins = c // 25
        tcuts = np.array(sorted(cutmap[(f"t{t}", k)] for k in range(1, n_tiles)))
        tiles = 1 + np.searchsorted(tcuts, bins, side="left")  # #cuts < bin
        for tile in np.unique(tiles):
            sel = c[tiles == tile]
            out[(f"t{t}", int(tile))] = (
                int(sel.size),
                float(sel.min()) / 100.0,
                float(sel.max()) / 100.0,
            )
    return out


def _py_q112(cent, day, window_days: int = 7) -> dict:
    """q112's full output: per day, trailing-window count and the exact
    t = ceil(0.95 n)-th smallest cent / 100."""
    out: dict = {}
    for d in range(_EV_DAYS):
        sel = cent[(day >= d - (window_days - 1)) & (day <= d)]
        n = int(sel.size)
        if n == 0:
            continue
        t = (19 * n + 19) // 20
        p95c = int(np.partition(sel, t - 1)[t - 1])
        out[d] = (n, p95c / 100.0)
    return out


def run_factor(
    spark,
    factor: float,
    out_dir: str,
    seed: int,
    repeat: int = 2,
    only: set[str] | None = None,
) -> dict:
    ds_dir = os.path.join(out_dir, f"x{factor:g}")
    if not os.path.exists(os.path.join(ds_dir, "truth.json")):
        generate(factor, out_dir, seed)
    with open(os.path.join(ds_dir, "truth.json")) as f:
        truth = json.load(f)
    eps = truth["eps"]
    doc_pairs = [(a, b, s) for a, b, s in truth["doc_pairs"]]
    vec_pairs = [(a, b, s) for a, b, s in truth["vec_pairs"]]

    docs = load_table(spark, ds_dir, "documents")
    emb = load_table(spark, ds_dir, "embeddings")
    # Untimed warmup (bench.py does the same): the first job in a fresh JVM
    # pays session init + codegen compilation that would otherwise be
    # attributed to whichever query runs first and skew the exponent.
    docs.limit(10).collect()
    emb.limit(10).collect()
    wall: dict[str, float] = {}
    checks: dict[str, dict] = {}
    _timed = _make_timed(spark, repeat)

    def want(name: str) -> bool:
        return only is None or name in only

    def done(name, dt):
        wall[name] = round(dt, 2)

    # q18 — MinHash banding + exact verify
    if want("q18_minhash"):
        dt, rows = _timed(lambda: minhash_lsh_pairs(docs, threshold=J_THRESH).collect())
        checks["q18_minhash"] = _pair_metrics(
            [(r.id_a, r.id_b) for r in rows], doc_pairs, J_THRESH, eps
        )
        done("q18_minhash", dt)

    if want("q20_ngram"):
        # q20 — exact inverted-index Jaccard (recall must be 1.0: exact operator)
        dt, rows = _timed(
            lambda: ngram_jaccard_pairs(docs, threshold=CLUSTER_THRESH).collect()
        )
        checks["q20_ngram"] = _pair_metrics(
            [(r.id_a, r.id_b) for r in rows], doc_pairs, CLUSTER_THRESH, eps
        )
        done("q20_ngram", dt)

    # q41 — pair graph -> connected components vs planted clusters
    if want("q41_clusters"):
        dt, rows = _timed(
            lambda: dedup_clusters(
                ngram_jaccard_pairs(docs, threshold=CLUSTER_THRESH)
            ).collect()
        )
        got = {frozenset(int(m) for m in r.members.split(",")) for r in rows}
        planted = _components(doc_pairs, CLUSTER_THRESH, eps)
        # eps-band pairs can merge two wanted components or add a member; only
        # count a mismatch when a wanted component is not a subset of some got
        # component and vice versa modulo band pairs — with this corpus the band
        # is almost always empty, so plain equality is the expected outcome.
        checks["q41_clusters"] = {
            "planted_components": len(planted),
            "got_components": len(got),
            "exact_match": got == planted,
        }
        done("q41_clusters", dt)

    # q70 — incremental delta-vs-corpus probe (odd ids = delta)
    if want("q70_incremental"):
        dt, rows = _timed(
            lambda: incremental_neardup(
                docs.where(F.col("doc_id") % 2 == 1),
                docs.where(F.col("doc_id") % 2 == 0),
                threshold=J_THRESH,
            ).collect()
        )
        cross = [(a, b, s) for a, b, s in doc_pairs if (a + b) % 2 == 1]
        checks["q70_incremental"] = _pair_metrics(
            [(r.new_id, r.corpus_id) for r in rows], cross, J_THRESH, eps
        )
        done("q70_incremental", dt)

    # q21 — blocked-GEMM cosine near-dup
    if want("q21_embedding"):
        dt, rows = _timed(
            lambda: embedding_neardup_pairs_blocked(emb, threshold=COS_THRESH).collect()
        )
        checks["q21_embedding"] = _pair_metrics(
            [(r.id_a, r.id_b) for r in rows], vec_pairs, COS_THRESH, eps
        )
        done("q21_embedding", dt)

    # q72 — SemDeDup: within-k-means-cell cosine pairs. Recall < 1.0 is the
    # designed trade (a planted pair straddling a cell boundary is dropped);
    # report it rather than gate it. Extras must still be zero: within-cell
    # scoring is exact, so any pair it emits is a true >=threshold pair.
    if want("q72_semantic"):
        dt, rows = _timed(
            lambda: semantic_dedup_pairs(emb, n_cells=16, threshold=COS_THRESH).collect()
        )
        m72 = _pair_metrics([(r.id_a, r.id_b) for r in rows], vec_pairs, COS_THRESH, eps)
        checks["q72_semantic"] = m72
        done("q72_semantic", dt)

    # q116 — semantic decontamination (eval slice = id % 29 == 0). Truth:
    # planted pairs with exactly ONE eval endpoint mark the train endpoint
    # contaminated. Extras must be 0 (within-cell scoring is exact and the
    # generator guarantees planted pairs are the only >=threshold pairs);
    # recall < 1.0 is the same designed cell-boundary trade as q72.
    if want("q116_decontaminate"):
        dt, rows = _timed(
            lambda: semantic_decontaminate(
                emb, eval_mod=29, n_cells=16, threshold=COS_THRESH
            ).collect()
        )
        pos116, band116 = set(), set()
        for a, b, s in vec_pairs:
            if (a % 29 == 0) == (b % 29 == 0):
                continue  # eval-eval / train-train pair: not a contamination edge
            t_id = b if a % 29 == 0 else a
            if abs(s - COS_THRESH) < eps:
                band116.add(t_id)
            elif s >= COS_THRESH:
                pos116.add(t_id)
        band116 -= pos116  # band-only ids are don't-care; positives stay gated
        pred116 = {r.vec_id for r in rows} - band116
        hit116 = len(pred116 & pos116)
        checks["q116_decontaminate"] = {
            "planted_positives": len(pos116),
            "predicted": len(pred116),
            "hit": hit116,
            "recall": round(hit116 / len(pos116), 4) if pos116 else None,
            "extras": len(pred116 - pos116),
        }
        done("q116_decontaminate", dt)

    # q29 — k-means-trained IVF build + probe; recall@k vs numpy brute force
    if want("q29_ivf"):
        def _q29():
            cents = kmeans_fit(emb, k=IVF_CELLS, max_iter=2, tol=0.0)
            return ivf_topk(
                emb,
                emb.where(F.col("vec_id") < 10),
                k=IVF_K,
                nprobe=IVF_NPROBE,
                centroids=cents,
            ).collect()

        dt, rows = _timed(_q29)
        mat = np.vstack(
            pq.read_table(os.path.join(ds_dir, "embeddings.parquet"))
            .column("embedding")
            .to_pylist()
        ).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat[:10] @ mat.T
        np.fill_diagonal(sims[:, :10], -np.inf)
        true_topk = {
            p: set(np.argsort(-sims[p])[:IVF_K].tolist()) for p in range(10)
        }
        got_nbrs: dict[int, set] = {}
        for r in rows:
            got_nbrs.setdefault(r.probe_id, set()).add(r.neighbor_id)
        hits = sum(len(got_nbrs.get(p, set()) & true_topk[p]) for p in range(10))
        checks["q29_ivf"] = {
            "recall_at_k": round(hits / (10 * IVF_K), 4),
            "probes": 10,
            "k": IVF_K,
            "nprobe": IVF_NPROBE,
            "n_cells": IVF_CELLS,
        }
        done("q29_ivf", dt)

    # q118 — IVF-PQ ADC retrieval. Quality gate: probes drawn from planted
    # clusters must recover every >=threshold planted partner in ADC top-3
    # (PQ distortion sits far below the planted separation); noise-level
    # ranks are quantization-dominated by design, so recall is measured
    # against PLANTED partners, not brute-force noise neighbors.
    if want("q118_ivf_pq"):
        probe_ids = sorted({a for a, b, s in vec_pairs} | {b for a, b, s in vec_pairs})[:10]
        dt, rows = _timed(
            lambda: ivf_pq_topk(
                emb, emb.where(F.col("vec_id").isin(probe_ids)), k=3
            ).collect()
        )
        top118: dict[int, set] = {}
        for r in rows:
            top118.setdefault(r.probe_id, set()).add(r.neighbor_id)
        want118: dict[int, set] = {}
        for a, b, s in vec_pairs:
            if s >= COS_THRESH + eps:
                if a in probe_ids:
                    want118.setdefault(a, set()).add(b)
                if b in probe_ids:
                    want118.setdefault(b, set()).add(a)
        # top-3 can only hold 3 partners; cap expectations per probe
        total118 = sum(min(len(v), 3) for v in want118.values())
        hit118 = sum(
            min(len(v & top118.get(p, set())), 3) for p, v in want118.items()
        )
        checks["q118_ivf_pq"] = {
            "planted_partner_slots": total118,
            "hit": hit118,
            "recall": round(hit118 / total118, 4) if total118 else None,
            "probes": len(probe_ids),
        }
        done("q118_ivf_pq", dt)

    # q73 — bloom-gated exact-digest membership (odd ids = delta). Cost must
    # scale with |delta| + the broadcast filter, never |history| re-joined;
    # exactness cross-checked against a plain membership join per factor.
    if want("q73_membership"):
        hashed = docs.select("doc_id", F.md5("text").alias("content_hash"))
        delta_h = hashed.where(F.col("doc_id") % 2 == 1)
        hist_h = hashed.where(F.col("doc_id") % 2 == 0)
        dt, n_seen = _timed(
            lambda: seen_membership(delta_h, hist_h, ["content_hash"])
            .where("seen")
            .count()
        )
        plain = (
            delta_h.join(
                hist_h.select("content_hash").distinct(), "content_hash", "left_semi"
            ).count()
        )
        checks["q73_membership"] = {
            "seen_bloom": n_seen,
            "seen_plain_join": plain,
            "exact_match": n_seen == plain,
        }
        done("q73_membership", dt)

    # q74 — PageRank, 3 iterations over a synthetic 2-out-regular graph on
    # the doc ids (gen_scale has no link table; the graph size tracks the
    # corpus factor). Exact integer arithmetic means the mass invariant is
    # checkable: every node has out-edges, so total rank after any round is
    # scale minus only integer-floor dust.
    if want("q74_pagerank"):
        n_docs = truth["n_docs"]
        edges = docs.select(F.col("doc_id").alias("src")).select(
            "src",
            F.explode(
                F.array(
                    (F.col("src") * 7919 + 13) % n_docs,
                    (F.col("src") * 104729 + 7) % n_docs,
                )
            ).alias("dst"),
        )
        dt, mass = _timed(
            lambda: pagerank(edges, iters=3)
            .agg(F.sum("rank_scaled").alias("m"))
            .collect()[0]["m"]
        )
        checks["q74_pagerank"] = {
            "rank_mass": int(mass),
            "scale": 10**12,
            "mass_conserved": 0.99 * 10**12 <= mass <= 10**12,
        }
        done("q74_pagerank", dt)

    # q75 — cross-doc repeated 10-grams. Exact Python replay at the
    # smallest factor (450k gram positions — cheap in-process); wall-clock
    # plus the repeated-position count at larger factors (the operator is
    # oracle-gated at driver SFs; here the question is the scaling shape of
    # the window + gram-hash shuffle).
    if want("q75_boilerplate"):
        dt, rows = _timed(lambda: crossdoc_repeated_grams(docs, k=10).collect())
        if factor <= 1:
            import re

            tbl = pq.read_table(
                os.path.join(ds_dir, "documents.parquet"), columns=["doc_id", "text"]
            )
            gram_docs: dict[str, set] = {}
            per_doc: dict[int, list] = {}
            for did, text in zip(
                tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()
            ):
                toks = [t for t in re.split(r"[^A-Za-z]+", text) if t]
                grams = [" ".join(toks[i : i + 10]) for i in range(len(toks) - 9)]
                if grams:
                    per_doc[did] = grams
                for g in set(grams):
                    gram_docs.setdefault(g, set()).add(did)
            rep = {g for g, ds_ in gram_docs.items() if len(ds_) >= 2}
            expected = {
                did: (len(gs), sum(1 for g in gs if g in rep))
                for did, gs in per_doc.items()
            }
            got = {r.id: (r.n_grams, r.n_repeated) for r in rows}
            checks["q75_boilerplate"] = {
                "exact_match": got == expected,
                "n_docs": len(expected),
                "repeated_positions": sum(v[1] for v in expected.values()),
            }
        else:
            checks["q75_boilerplate"] = {
                "rows": len(rows),
                "repeated_positions": int(sum(r.n_repeated for r in rows)),
            }
        done("q75_boilerplate", dt)

    # q110/q112 — bounded-histogram quantile ops (VERDICT r08 ask #4).
    # The scale corpus gains a deterministic events table (fixed 30-day
    # span, 4 event types, cents 1..2000 via a Knuth multiply of the row
    # index, n_events = 200k x factor) so the TRUTH is computable in
    # closed form at every factor: numpy replays the histograms and the
    # exact integer selection rules, and the Spark output must match
    # EXACTLY (both engines divide the same integral cents by 100.0).
    # Each op gets two walls: the full query (scan-dominated — expect
    # ~linear) and the readout from MAINTAINED state (a local frame with
    # no lineage to events, as a maintainer's stored state would be):
    # state is days x bins / types x bins rows AT EVERY FACTOR, so the
    # post-histogram stages must come out ~flat (exponent ~0) — the
    # claim "the expansion input is days x bins, never the events".
    if (
        want("q110_hist_tiles")
        or want("q112_rolling_p95")
        or want("q120_sketch_quantiles")
    ):
        n_events = int(200_000 * factor)
        _ensure_scale_events(spark, ds_dir, n_events)
        cent, day, tidx = _events_truth_arrays(n_events)

    if want("q110_hist_tiles"):
        from mapreduce_paper_implementation_spark.operators.incremental import (
            hist_state,
            tile_cutpoints_from_hist,
        )
        from mapreduce_paper_implementation_spark.plans.queries import QUERIES

        dt, rows = _timed(
            lambda: QUERIES["q110_hist_tile_deciles"](spark, ds_dir).collect()
        )
        got = {(r.event_type, r.tile): (r.n, r.min_value, r.max_value) for r in rows}
        want110 = _py_q110(cent, tidx)
        checks["q110_hist_tiles"] = {
            "exact_match": got == want110,
            "n_groups": len(want110),
            "n_events": n_events,
        }
        done("q110_hist_tiles", dt)

        ev = load_table(spark, ds_dir, "events").select("event_type", "value")
        state_pdf = hist_state(ev, ["event_type"], "value").toPandas()
        state = spark.createDataFrame(state_pdf)  # local: no events lineage
        dt2, cut_rows = _timed(
            lambda: tile_cutpoints_from_hist(state, ["event_type"]).collect()
        )
        got_cuts = {(r.event_type, r.k): r.cut_bin for r in cut_rows}
        want_cuts = _py_q110_cuts(cent, tidx)
        checks["q110_cutpoints_from_state"] = {
            "exact_match": got_cuts == want_cuts,
            "state_rows": len(state_pdf),
        }
        done("q110_cutpoints_from_state", dt2)

    if want("q112_rolling_p95"):
        from mapreduce_paper_implementation_spark.operators.serving import (
            rolling_p95_readout,
        )
        from mapreduce_paper_implementation_spark.plans.queries import QUERIES

        dt, rows = _timed(
            lambda: QUERIES["q112_rolling_p95"](spark, ds_dir).collect()
        )
        got = {r.day_num: (r.n_events_7d, r.p95) for r in rows}
        want112 = _py_q112(cent, day)
        checks["q112_rolling_p95"] = {
            "exact_match": got == want112,
            "n_days": len(want112),
            "n_events": n_events,
        }
        done("q112_rolling_p95", dt)

        hist_pdf = (
            load_table(spark, ds_dir, "events")
            .select(
                F.expr("unix_micros(ts) div 86400000000").alias("day_num"),
                F.round(F.col("value") * 100).cast("long").alias("cent"),
            )
            .groupBy("day_num", "cent")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .toPandas()
        )
        state = spark.createDataFrame(hist_pdf)  # local: no events lineage
        dt2, srows = _timed(lambda: rolling_p95_readout(state).collect())
        got_s = {r.day_num: (r.n_events_7d, r.p95) for r in srows}
        checks["q112_readout_from_state"] = {
            "exact_match": got_s == want112,
            "state_rows": len(hist_pdf),
        }
        done("q112_readout_from_state", dt2)

    # q120 — mergeable rank sketch over unbounded-precision values
    # (VERDICT r10 ask #2). Over the same deterministic events table:
    # v = value + user_id/97 (dense fractional part — no bounded bin
    # domain exists, unlike the cents ops above), so numpy replays the
    # exact order statistics bit-for-bit and the full query's (n, exact_q)
    # must match EXACTLY with est_ok TRUE at every factor. Second wall:
    # the rank-query readout from MAINTAINED sketch state (a local frame,
    # no events lineage) — state is O(k log n) rows per group at every
    # factor, so the from-state readout must come out ~flat (exponent ~0),
    # with every estimate's exact rank inside the 2% bracket.
    if want("q120_sketch_quantiles"):
        import math as _math

        from mapreduce_paper_implementation_spark.operators.sketch import (
            quantile_sketch_state,
            quantiles_from_sketch,
        )
        from mapreduce_paper_implementation_spark.plans.queries import QUERIES

        vvals = cent.astype(np.float64) / 100.0 + (
            (np.arange(n_events, dtype=np.int64) % 1000).astype(np.float64) / 97.0
        )
        dt, rows = _timed(
            lambda: QUERIES["q120_sketch_quantiles"](spark, ds_dir).collect()
        )
        got = {(r.event_type, r.phi): (r.n, r.exact_q, r.est_ok) for r in rows}
        want120: dict = {}
        for t in range(_EV_TYPES):
            sel = np.sort(vvals[tidx == t])
            n = int(sel.size)
            for phi in (0.5, 0.95, 0.99):
                kk = int(_math.ceil(phi * n))
                want120[(f"t{t}", phi)] = (n, float(sel[kk - 1]), True)
        checks["q120_sketch_quantiles"] = {
            "exact_match": got == want120,
            "n_groups": _EV_TYPES,
            "n_events": n_events,
        }
        done("q120_sketch_quantiles", dt)

        ev = load_table(spark, ds_dir, "events")
        from mapreduce_paper_implementation_spark.operators.serving import (
            continuous_value_frame,
        )

        state_pdf = quantile_sketch_state(
            continuous_value_frame(ev), "event_type", "v"
        ).toPandas()
        state = spark.createDataFrame(state_pdf)  # local: no events lineage
        dt2, est_rows = _timed(
            lambda: quantiles_from_sketch(
                state, "event_type", (0.5, 0.95, 0.99)
            ).collect()
        )
        ok = True
        for r in est_rows:
            t = int(r.event_type[1:])
            sel = np.sort(vvals[tidx == t])
            n = int(sel.size)
            rank = int(np.searchsorted(sel, r.est, side="right"))
            if abs(rank - _math.ceil(r.phi * n)) > max(1, 0.02 * n):
                ok = False
        checks["q120_readout_from_state"] = {
            "bracket_ok": ok,
            "state_rows": int(len(state_pdf)),
        }
        done("q120_readout_from_state", dt2)

    # q105 — exact n-gram containment (asymmetric rung; shares q20's
    # inverted-index skeleton). Exact operator: recall must be 1.0 and
    # extras 0 against the planted containment truth (truth.json
    # doc_pairs_cont; gen_scale gates sampled cross-pair containment < 0.4,
    # so the 0.5 threshold separates planted pairs exactly).
    if want("q105_containment"):
        dt, rows = _timed(
            lambda: ngram_containment_pairs(docs, threshold=CONT_THRESH).collect()
        )
        cont_pairs = [(a, b, c) for a, b, c in truth.get("doc_pairs_cont", [])]
        if cont_pairs:
            checks["q105_containment"] = _pair_metrics(
                [(r.id_a, r.id_b) for r in rows], cont_pairs, CONT_THRESH, eps
            )
        else:
            checks["q105_containment"] = {
                "predicted": len(rows),
                "note": "truth.json predates doc_pairs_cont — regenerate to gate recall",
            }
        done("q105_containment", dt)

    return {
        "n_docs": truth["n_docs"],
        "n_vecs": truth["n_vecs"],
        "planted_doc_pairs": len(doc_pairs),
        "planted_vec_pairs": len(vec_pairs),
        "wall_sec": wall,
        "checks": checks,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,3,10")
    ap.add_argument("--out-dir", default=os.path.join(REPO, "scale_data"))
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SCALE.json"))
    ap.add_argument("--seed", type=int, default=2026)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated check-name subset (e.g. q18_minhash,q105_containment)",
    )
    ap.add_argument(
        "--flag-threshold",
        type=float,
        default=1.3,
        help="flag queries whose overall exponent meets this (r07 ask #3: 1.3 over log100)",
    )
    args = ap.parse_args()
    factors = [float(x) for x in args.factors.split(",")]
    only = set(args.queries.split(",")) if args.queries else None
    default_out = os.path.join(REPO, "BENCH_SCALE.json")
    if only is not None and os.path.abspath(args.out) == default_out:
        ap.error(
            "--queries produces a subset document: it would clobber the "
            "standing BENCH_SCALE.json (all factors + skew_join + x100 "
            "sections). Pass an explicit --out (e.g. /tmp/sub.json) and "
            "merge its per-query rows into BENCH_SCALE.json."
        )

    spark = get_spark("bench_scale")
    results: dict[str, dict] = {}
    for f_ in factors:
        t0 = time.perf_counter()
        results[f"x{f_:g}"] = run_factor(
            spark, f_, args.out_dir, args.seed, args.repeat, only
        )
        print(
            f"# factor {f_:g} done in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
            flush=True,
        )

    def _exps(lo: float, hi: float) -> dict[str, float]:
        wlo = results[f"x{lo:g}"]["wall_sec"]
        whi = results[f"x{hi:g}"]["wall_sec"]
        return {
            q: round(math.log(whi[q] / wlo[q]) / math.log(hi / lo), 3)
            for q in wlo
            if wlo[q] > 0 and q in whi
        }

    # Overall (first->last factor) is the headline: per-step exponents on
    # this shared box carry +-40% run noise, and small factors still carry
    # fixed session overhead; the widest span averages both out.
    exp_overall = _exps(factors[0], factors[-1]) if len(factors) >= 2 else {}
    exp_last = _exps(factors[-2], factors[-1]) if len(factors) >= 2 else {}

    out = {
        "metric": "dedup_ann_scale_stress",
        "unit": "sec",
        "thresholds": {
            "jaccard": J_THRESH,
            "cluster": CLUSTER_THRESH,
            "containment": CONT_THRESH,
            "cosine": COS_THRESH,
        },
        "factors": results,
        "scaling_exponent_overall": exp_overall,
        "scaling_exponent_last_step": exp_last,
        "flag_threshold": args.flag_threshold,
        "flagged": sorted(
            q for q, e in exp_overall.items() if e >= args.flag_threshold
        ),
        "q18_subquadratic": exp_overall.get("q18_minhash", 99) < 2.0,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
