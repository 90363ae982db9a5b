"""Seeded benchmark inputs, generated once per seed outside any timing.

Everything is written under the benchmark's work directory inside the
checkout; nothing in the repository tree is touched. The dataset directory
is named ``sf0.1`` so q03 reads the committed ``fixtures/credit/sf0.1``
credit fixture instead of generating one into the tree.

- ``documents`` / ``embeddings`` / ``truth.json``: ``scripts/gen_scale.py``
  (planted near-dup clusters with exact ground truth).
- ``mr_text/``: whole-file text shards cut from the documents (the MR
  ``wc`` / ``indexer`` inputs).
- ``mr_credit/``: header-ful credit CSV shards with ~1% malformed rows (the
  MR ``credit`` input; same format as ``sources/credit_fixture.py``).
- ``stream/``: the maintainers' doc-disjoint batches in arrival (doc_id)
  order — ``b{k}/documents.parquet`` for the postings index,
  ``upto{k}/documents.parquet`` (everything through batch k, the batch
  query's input) and ``edges{k}.parquet``, batch k of the planted
  near-dup pair stream (Jaccard >= 0.1).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_FACTOR = 0.1  # gen_scale factor: 500 documents, 200 embeddings
N_TEXT_SHARDS = 8
N_CREDIT_SHARDS = 4
CREDIT_ROWS_PER_SHARD = 1500

AGENCIES = ("Equifax", "Experian", "TransUnion", "Yellow Banana")


def _write_text_shards(docs: pa.Table, out: str) -> None:
    texts = docs.column("text").to_pylist()
    os.makedirs(out, exist_ok=True)
    per = -(-len(texts) // N_TEXT_SHARDS)
    for i in range(N_TEXT_SHARDS):
        with open(os.path.join(out, f"pg-{i:02d}.txt"), "w") as fh:
            fh.write("\n".join(texts[i * per : (i + 1) * per]))


def _write_credit_shards(seed: int, out: str) -> None:
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    uid = 0
    for s in range(N_CREDIT_SHARDS):
        n = CREDIT_ROWS_PER_SHARD
        agency = rng.integers(0, len(AGENCIES), n)
        year = rng.integers(2019, 2025, n)
        score = rng.integers(300, 851, n)
        lines = ["user_id,agency,year,credit_score"]
        for i in range(n):
            uid += 1
            lines.append(f"{uid},{AGENCIES[agency[i]]},{year[i]},{score[i]}")
            if i % 100 == 99:  # ~1% malformed: short row, bad year, bad score
                lines.append(
                    (f"{uid},Equifax", f"{uid},Experian,not_a_year,512",
                     f"{uid},TransUnion,2023,not_a_score")[(i // 100) % 3]
                )
        with open(os.path.join(out, f"credit-{s:02d}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def _write_stream(ds: str, out: str, n_batches: int) -> None:
    docs = pq.read_table(os.path.join(ds, "documents.parquet"))
    with open(os.path.join(ds, "truth.json")) as fh:
        truth = json.load(fh)
    n = docs.num_rows
    cuts = [n * b // n_batches for b in range(n_batches + 1)]
    for b in range(n_batches):
        for leaf, lo in ((f"b{b}", cuts[b]), (f"upto{b}", 0)):
            os.makedirs(os.path.join(out, leaf))
            pq.write_table(docs.slice(lo, cuts[b + 1] - lo), os.path.join(out, leaf, "documents.parquet"))
    # pairs in discovery (newer endpoint) order, dealt out in turn, so every
    # batch holds part of each cluster and every later batch merges into
    # the components of the earlier ones, whatever the seed
    pairs = sorted(
        ((a, c) for a, c, j in truth["doc_pairs"] if j >= 0.1 + truth["eps"]),
        key=lambda p: (max(p), min(p)),
    )
    for b in range(n_batches):
        mine = pairs[b::n_batches]
        pq.write_table(
            pa.table({"id_a": pa.array([p[0] for p in mine], pa.int64()),
                      "id_b": pa.array([p[1] for p in mine], pa.int64())}),
            os.path.join(out, f"edges{b}.parquet"),
        )


def prepare(work: str, repo_root: str, seed: int, n_batches: int) -> str:
    """Generate (or reuse) the inputs for ``seed``; returns the seed's data
    root holding ``sf0.1/``, ``mr_text/`` and ``mr_credit/``."""
    root = os.path.join(work, "data", f"s{seed}")
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        return root
    shutil.rmtree(root, ignore_errors=True)
    import sys

    sys.path.insert(0, os.path.join(repo_root, "scripts"))
    import gen_scale

    ds = os.path.join(root, "sf0.1")
    gen_dir = gen_scale.generate(DOC_FACTOR, os.path.join(root, "gen"), seed)
    os.makedirs(ds)
    for f in ("documents.parquet", "embeddings.parquet", "truth.json"):
        os.replace(os.path.join(gen_dir, f), os.path.join(ds, f))
    shutil.rmtree(os.path.join(root, "gen"))
    _write_text_shards(pq.read_table(os.path.join(ds, "documents.parquet")), os.path.join(root, "mr_text"))
    _write_credit_shards(seed, os.path.join(root, "mr_credit"))
    _write_stream(ds, os.path.join(root, "stream"), n_batches)
    with open(done, "w") as fh:
        json.dump({"seed": seed}, fh)
    return root
