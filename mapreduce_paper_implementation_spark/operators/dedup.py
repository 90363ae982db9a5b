"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for 100 TB:
- Exact dedup shuffles 16-byte digests, never document bodies.
- MinHash/LSH shuffles (band_id, band_key, doc_id) triples — fixed-width —
  and joins candidates on band buckets; the only place full shingle sets
  move is the final verify join over surviving candidate pairs (tiny).
- All hashing is JVM-side (xxhash64 + modular affine transforms inside
  higher-order functions); no Python in any per-row path.
- Skewed buckets (boilerplate shingles) are dropped via `max_bucket_size`,
  the standard guard in web-scale dedup pipelines.

The reference has no dedup operator; the closest artifact is the map-side
distinct in the indexer (/root/reference/mr-main/mrapps/indexer.go:22-27).
These operators are the project's north-star extension (BASELINE.json).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.functions.text import tokens, word_shingles
from mapreduce_paper_implementation_spark.functions.vectors import to_double_vec

# Modulus for all MinHash arithmetic: 2^31-1 (Mersenne prime). Keeping every
# operand < 2^31 makes a*h+b < 2^62 — safe in ANSI-mode LongType arithmetic.
MERSENNE31 = 2_147_483_647


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct content value. Returns the
    surviving ids + duplicate counts; join back to recover full rows."""
    return (
        df.select(F.md5(F.col(content_col).cast("binary")).alias("content_hash"), id_col)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_copies"))
    )


def _minhash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signature(shingles: Column, num_hashes: int = 64, seed: int = 42) -> Column:
    """MinHash signature (array<long> of length num_hashes) over a distinct
    shingle array. h_i(s) = (a_i * xxhash64(s) + b_i) mod (2^31-1), taking
    the min per permutation — entirely JVM-side expressions.

    Single-pass formulation: one F.aggregate over the shingle-hash array with
    an array<long> accumulator updated by zip_with against the (a_i, b_i)
    constant array. One traversal of the (potentially long) shingle array
    instead of num_hashes traversals, and an expression tree of O(1) nodes
    instead of O(num_hashes) nested transforms — both codegen size and row
    cost scale with |shingles| * num_hashes exactly once."""
    params = _minhash_params(num_hashes, seed)
    ab = F.array(
        *[
            F.struct(F.lit(a).cast("long").alias("a"), F.lit(b).cast("long").alias("b"))
            for a, b in params
        ]
    )
    base = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE31)))
    return F.aggregate(
        base,
        F.array_repeat(F.lit(MERSENNE31).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc, ab, lambda m, p: F.least(m, F.pmod(p["a"] * h + p["b"], F.lit(MERSENNE31)))
        ),
    )


def _shingle_frame(
    docs: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, shingles) with empty-shingle docs dropped, persisted: the frame
    feeds two consumers (banding + the verify join) in every dedup pipeline.
    At 100 TB this is the materialize-signatures step; MEMORY_AND_DISK
    spills rather than OOMs. Registered via scoped_persist — callers release
    accumulated frames with operators.caching.release_persisted() once the
    result is consumed (bench/driver do this per query)."""
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    # No spread_partitions here (round-15): fanning the doc projection out
    # paid a full shuffle of the raw text per call and measured as a LOSS on
    # every shingle consumer (q70 1.28x, q18 1.22x faster without it,
    # interleaved A/B pairs) — the shingle build is cheaper than moving the
    # text. A many-split production scan is already parallel; a small scan
    # is cheaper to shingle in place than to shuffle first.
    sh = docs.select(id_col, text_col).select(
        F.col(id_col).alias("id"), word_shingles(text_col, shingle_n).alias("shingles")
    ).where(F.size("shingles") > 0)
    return scoped_persist(sh)


def _band_keys(
    sh: DataFrame, num_hashes: int, bands: int, seed: int
) -> DataFrame:
    """(id, band_id, band_key) LSH index rows from a shingle frame.

    Exploded-row signature: num_hashes codegen'd MIN aggregates over (id, h)
    rows. Unlike the array-lambda formulation (minhash_signature), this
    stays in whole-stage codegen end to end, and Spark's partial aggregation
    (map-side combine) means the shuffle carries one num_hashes-min row per
    id per partition — the combiner the reference lacks (mr/worker.go:86-89).
    Band keys come straight from the min COLUMNS — string concat + xxhash64
    in codegen. (Assembling an array<long> and slicing per band with
    transform() computes the same keys interpreted: higher-order array
    functions are CodegenFallback, SURVEY.md §8.1.)

    Determinism matters across CALLS, not just rows: two invocations with
    the same (num_hashes, bands, seed) — e.g. yesterday's materialized
    corpus index and today's delta in incremental_neardup — must produce
    join-compatible keys."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes
    params = _minhash_params(num_hashes, seed)
    hash_rows = sh.select("id", F.explode("shingles").alias("s")).select(
        "id", F.pmod(F.xxhash64("s"), F.lit(MERSENNE31)).alias("h")
    )
    mins = hash_rows.groupBy("id").agg(
        *[
            F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE31))).alias(f"m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{j * rows_per_band + r}").cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_key"),
            )
            for j in range(bands)
        ]
    )
    return mins.select("id", F.explode(band_structs).alias("b")).select(
        "id", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


def _drop_hot_buckets(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    """Drop pathological buckets (boilerplate-dominated at web scale):
    count per bucket, then broadcast-anti-join the HOT bucket keys —
    oversized buckets are few by definition, so the banded rows stream
    map-side instead of shuffling again on the same key."""
    hot_buckets = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > max_bucket_size)
        .select("band_id", "band_key")
    )
    return banded.join(F.broadcast(hot_buckets), ["band_id", "band_key"], "anti")


def _exact_jaccard(cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame) -> DataFrame:
    """Verify candidate (id_a, id_b) pairs with exact Jaccard over shingle
    sets — full shingle arrays only ever move for candidate pairs, never
    through the banding shuffle. Score is DECIMAL(9,6) (exact cross-engine
    rounding for thresholding)."""
    a = sh_a.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh_b.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / (F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))),
                6,
            )
            .cast("decimal(9,6)")
            .alias("jaccard"),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by MinHash banding + exact Jaccard verification.

    Pipeline: shingle -> signature -> band keys -> bucket self-join
    (candidates) -> verify exact Jaccard on shingle sets -> filter >= threshold.
    With (b=16, r=4) the S-curve gives ~99% recall at J=0.8 and ~1-1e-18 at
    the J~0.99 range typical of true near-dups.

    Returns (id_a, id_b, jaccard DOUBLE), id_a < id_b. The score is computed
    and thresholded as DECIMAL(9,6) (exact cross-engine rounding), then the
    final projection casts to DOUBLE per the output dtype contract.
    """
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    sh = _shingle_frame(docs, id_col, text_col, shingle_n)
    # The banded self-join reads the signature/band rows on both sides with
    # no exchange reuse, and they are tiny (a few longs per doc), so
    # persisting halves the signature-aggregation cost.
    banded = scoped_persist(_band_keys(sh, num_hashes, bands, seed))

    if max_bucket_size is not None:
        banded = _drop_hot_buckets(banded, max_bucket_size)

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )

    verified = _exact_jaccard(cand, sh, sh)
    return (
        verified.where(F.col("jaccard") >= threshold)
        .withColumn("jaccard", F.col("jaccard").cast("double"))
        .orderBy("id_a", "id_b")
    )


def incremental_neardup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Cross-run dedup: near-duplicates of a NEW delta against an EXISTING
    corpus — the daily-crawl-vs-history shape of a production training-data
    pipeline, where q18's all-pairs self-join would re-pay the whole corpus
    every day.

    The corpus side reduces to its LSH band index ((id, band_id, band_key),
    a few longs per document — in production this is a materialized table
    maintained per ingest, like streaming/rollup.py's state; here it is
    derived in-query). The delta bands with the SAME (num_hashes, bands,
    seed) — _band_keys is deterministic across calls, which is what makes
    the stored index joinable — and probes it with a bucket equi-join, so
    per-run cost is O(|delta| + matched buckets), never O(|corpus|).
    Candidates verify with exact Jaccard (corpus shingles move only for
    matched candidates). Hot-bucket capping applies to the corpus index,
    where boilerplate accumulates.

    Returns (new_id, corpus_id, jaccard DOUBLE) ordered by (new_id,
    corpus_id); ids present in both inputs never pair with themselves.
    """
    sh_new = _shingle_frame(new_docs, id_col, text_col, shingle_n)
    sh_old = _shingle_frame(corpus_docs, id_col, text_col, shingle_n)
    index = _band_keys(sh_old, num_hashes, bands, seed)
    return probe_neardup_index(
        sh_new,
        index,
        sh_old,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        seed=seed,
        max_bucket_size=max_bucket_size,
    )


def probe_neardup_index(
    sh_new: DataFrame,
    index: DataFrame,
    corpus_shingles: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Probe a PREBUILT corpus band index with a delta's shingle frame.

    The persisted-state entry point behind incremental_neardup: `index` is
    (id, band_id, band_key) rows — today built in-query, in production read
    from the materialized index table (streaming/dedup_index.py maintains
    one) — and `corpus_shingles` is the (id, shingles) verify store. The
    probe MUST band with the same (num_hashes, bands, seed) the index was
    built with; _band_keys is deterministic across calls for exactly this
    reason."""
    if max_bucket_size is not None:
        index = _drop_hot_buckets(index, max_bucket_size)

    probe = _band_keys(sh_new, num_hashes, bands, seed)
    cand = (
        probe.alias("n")
        .join(
            index.alias("c"),
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_key") == F.col("c.band_key"))
            & (F.col("n.id") != F.col("c.id")),
        )
        .select(F.col("n.id").alias("id_a"), F.col("c.id").alias("id_b"))
        .distinct()
    )

    verified = _exact_jaccard(cand, sh_new, corpus_shingles)
    return (
        verified.where(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("corpus_id"),
            F.col("jaccard").cast("double").alias("jaccard"),
        )
        .orderBy("new_id", "corpus_id")
    )


# Document-frequency cut for the shingle inverted index: a boilerplate
# shingle shared by k documents creates k^2 join rows, the quadratic
# scale-killer of any similarity self-join on web text. Shingles in more
# than this many docs are dropped from the INDEX (not from the per-doc
# set sizes). Shared with the q20/q41 oracle SQL so the differential
# still matches exactly.
DEFAULT_MAX_SHINGLE_DF = 1000


def _ngram_cooccurrence(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    max_df: int | None,
) -> DataFrame:
    """Shared inverted-index skeleton for the exact n-gram similarity joins
    (ngram_jaccard_pairs / ngram_containment_pairs): explode distinct
    shingles, self-join on the shingle, count co-occurrences per ordered
    pair, attach both set sizes. Only docs sharing a shingle ever meet —
    never a full cross join. At 100 TB the shingle join inherits AQE skew
    splitting, and `max_df` caps hot shingles: a shingle appearing in more
    than max_df docs is dropped from the index (one boilerplate shingle
    shared by k docs otherwise makes k^2 join rows). The cut slightly
    UNDER-counts intersections for pairs sharing hot shingles — acceptable
    for dedup (hot shingles carry no similarity signal), and mirrored
    verbatim in the oracle SQL so correctness stays exactly gated.
    max_df=None is the uncapped ground truth
    (tests/test_operators.py:test_ngram_jaccard_hot_shingle_cap compares
    the cut against it), so it deliberately has no cap: one shingle in
    every doc then builds one corpus-sized posting list and df^2 pair rows.
    Production callers keep DEFAULT_MAX_SHINGLE_DF.

    Returns (id_a, id_b, inter, n_a, n_b), id_a < id_b — the score
    projections live in the two public wrappers so a fix to this skeleton
    reaches both (ADVICE r07: the two copies had started to drift).
    """
    # No spread_partitions on the doc projection (round-15): the text
    # fan-out shuffle measured as a net loss on every consumer of this
    # skeleton (q20 1.13x, q41 1.13x, q105/q109/q126 1.04-1.06x faster
    # without it, interleaved A/B pairs) — see _shingle_frame.
    sh = docs.select(id_col, text_col).select(
        F.col(id_col).alias("id"), word_shingles(text_col, shingle_n).alias("shingles")
    ).where(F.size("shingles") > 0)
    # The inverted index feeds TWO consumers (per-doc sizes and the posting
    # lists) and Spark reuses neither — persist so the corpus is shingled
    # exactly once. Per-doc set sizes come from the index itself (shingles
    # are distinct per doc, so size == row count), saving a second corpus
    # scan.
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    inv = scoped_persist(sh.select("id", F.explode("shingles").alias("shingle")))
    sizes = inv.groupBy("id").agg(F.count("*").alias("n_sh"))

    # Posting-list co-occurrence (round-15, guide §2.4): ONE shuffle of the
    # index (groupBy shingle -> sorted doc-id posting list) replaces the
    # previous THREE — the hot-df count aggregate plus both sides of a
    # shingle self-join. The df filter becomes a free size() predicate on
    # the list: df = 1 shingles (the vast majority of a real corpus) can
    # contribute no pair and are dropped before enumeration, and df >
    # max_df posting lists are the hot cut, applied at the identical
    # boundary as the old broadcast anti-join. Ordered pairs then stream
    # out of each list via posexplode + slice — the same sum(df^2) pair
    # rows the self-join produced, minus the join's hash-probe and second
    # pass over the index. Per-list memory is bounded by max_df ids.
    posts = inv.groupBy("shingle").agg(F.array_sort(F.collect_list("id")).alias("ids"))
    df_cap = (F.size("ids") <= max_df) if max_df is not None else F.lit(True)
    posts = posts.where((F.size("ids") >= 2) & df_cap)
    co = (
        posts.select(F.posexplode("ids").alias("_i", "id_a"), "ids")
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("_i") + 2, F.size("ids"))).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return co.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.1,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    sort: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join: pairs sharing >=1 shingle,
    scored inter/(|A|+|B|-inter), filtered >= threshold. Skeleton (inverted
    index, hot-shingle cut, scale analysis): _ngram_cooccurrence above.

    Returns (id_a, id_b, jaccard DOUBLE), id_a < id_b (decimal-exact score,
    double final projection — see minhash_lsh_pairs). `sort=False` skips
    the global (id_a, id_b) output sort for consumers that immediately
    aggregate or symmetrize the pair set (connected components, the q138
    threshold curve): the sort is a pure range-exchange cost there —
    Catalyst cannot always eliminate it below a persist boundary
    (guide §2.4's "orderBy used only to make output deterministic")."""
    co = _ngram_cooccurrence(docs, id_col, text_col, shingle_n, max_df)
    out = (
        co.select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6)
            .cast("decimal(9,6)")
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .withColumn("jaccard", F.col("jaccard").cast("double"))
    )
    return out.orderBy("id_a", "id_b") if sort else out


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """EXACT n-gram CONTAINMENT join (overlap coefficient): pairs where the
    smaller shingle set is mostly inside the other — inter/min(|A|,|B|) >=
    threshold. The ASYMMETRIC dedup signal Jaccard misses: a short doc
    fully quoted inside a long one has tiny Jaccard (union is dominated by
    the long doc) but containment ~1.0; corpus curation drops the contained
    doc (SlimPajama-style), keeping the superset.

    Skeleton (inverted index, hot-shingle cut, scale analysis):
    _ngram_cooccurrence above — only the score differs: inter /
    least(n_a, n_b), decimal-exact at 6dp before the threshold so both
    engines cut identically.

    Returns (id_a, id_b, containment DOUBLE), id_a < id_b.
    """
    co = _ngram_cooccurrence(docs, id_col, text_col, shingle_n, max_df)
    return (
        co.select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / F.least("n_a", "n_b"), 6)
            .cast("decimal(9,6)")
            .alias("containment"),
        )
        .where(F.col("containment") >= threshold)
        .withColumn("containment", F.col("containment").cast("double"))
        .orderBy("id_a", "id_b")
    )


def md5_h64(c: Column | str) -> Column:
    """64-bit token hash derived from md5 (LongType). Bits [16i, 16i+16) come
    from hex chars [4i, 4i+4) of the md5 digest, so bit j of the result is
    bit (j mod 16) of chunk (j div 16).

    Chosen over xxhash64 for the simhash pipeline because BOTH engines can
    compute it identically — DuckDB: `CAST('0x' || substr(md5(t), 1+4*i, 4)
    AS BIGINT)` per chunk — which makes the full simhash banding pipeline
    oracle-checkable (q19). shiftleft is a bitwise op, so chunk 3 wrapping
    into the sign bit is well-defined two's-complement."""
    col = F.col(c) if isinstance(c, str) else c
    hexc = F.md5(col.cast("binary"))
    chunks = [
        F.conv(F.substring(hexc, 1 + 4 * i, 4), 16, 10).cast("long") for i in range(4)
    ]
    h = chunks[0]
    for i in (1, 2, 3):
        h = h.bitwiseOR(F.shiftleft(chunks[i], 16 * i))
    return h


def simhash(text_col: Column | str, bits: int = 64) -> Column:
    """SimHash fingerprint (LongType) of the token stream: per bit j, sign of
    sum over tokens of +/-1 according to bit j of md5_h64(token).

    Single-pass formulation: one F.aggregate over the token-hash array with an
    array<long> of per-bit counters, each step zip_with-ing against the
    constant power-of-two mask array (bit j of h == (h & 2^j) != 0, which the
    mask expresses without a column-typed shift amount). The final fingerprint
    re-ORs the winning masks: summing distinct powers of two is exact in
    two's complement, including the 2^63 sign bit."""
    masks = F.array(
        *[F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long") for j in range(bits)]
    )
    hs = F.transform(tokens(text_col), lambda t: md5_h64(t))
    sums = F.aggregate(
        hs,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(sums, masks, lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def _simhash_df(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """(id, fp) via exploded row-level aggregation: one row per token hash,
    then `bits` codegen'd conditional SUMs per id (partial aggregation =
    map-side combine). Identical fingerprints to the Column-API simhash(),
    but stays in whole-stage codegen instead of interpreted array lambdas.
    Docs with zero tokens keep fp = 0 via the left join."""
    masks = [(1 << j) if j < 63 else -(1 << 63) for j in range(bits)]
    tok_rows = (
        df.select(F.col(id_col).alias("id"), F.explode(F.split(text_col, "[^A-Za-z]+")).alias("t"))
        .where(F.col("t") != "")
        .select("id", md5_h64("t").alias("h"))
    )
    sums = tok_rows.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(m).cast("long")) != 0, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j, m in enumerate(masks)
        ]
    )
    fp_expr = None
    for j, m in enumerate(masks):
        term = F.when(F.col(f"b{j}") > 0, F.lit(m).cast("long")).otherwise(F.lit(0).cast("long"))
        fp_expr = term if fp_expr is None else fp_expr + term
    fps = sums.select("id", fp_expr.alias("fp"))
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(fps, "id", "left").select("id", F.coalesce("fp", F.lit(0).cast("long")).alias("fp"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    band_bits: int = 16,
    max_distance: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into bits/band_bits
    chunks (a pair within hamming distance d < #bands must agree on >=1
    band), bucket-join candidates, verify with bit_count(xor) <= max_distance.

    Returns (id_a, id_b, hamming INT), id_a < id_b.
    """
    n_bands = bits // band_bits
    assert n_bands * band_bits == bits, "band_bits must divide bits"
    # Banding guarantee: a pair within hamming distance d differs in at most
    # d bands, so it agrees on >= n_bands - d bands — candidate recall is
    # complete only when max_distance < n_bands. (mirrors the rows_per_band
    # assertion in minhash_lsh_pairs)
    assert max_distance < n_bands, (
        f"max_distance={max_distance} >= n_bands={n_bands}: banding would "
        "silently miss qualifying pairs; use more/narrower bands"
    )
    fp = _simhash_df(docs, id_col, text_col, bits)
    # The banding self-join consumes fp on BOTH sides and Spark does not
    # reuse the exchange across them (verified: 0 ReusedExchange), so an
    # unpersisted fp re-runs the whole md5+64-sum pipeline per side. fp is
    # (id, long) — a few bytes per document even at 100 TB — so caching it
    # is the signature-materialization step a production pipeline has anyway.
    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    fp = scoped_persist(fp)
    mask = (1 << band_bits) - 1
    banded = fp.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.shiftright("fp", j * band_bits).bitwiseAND(F.lit(mask)).alias("band_key"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("id", "fp", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key"))

    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.fp").alias("fp_a"),
            F.col("r.fp").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_distance)
        .orderBy("id_a", "id_b")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with round(cos,6) >= threshold.

    Exact O(n^2) formulation: the small-n ground truth that
    embedding_neardup_pairs_blocked (the scale path) is tested against row
    for row. Returns cosine_pairs_at's (id_a, id_b, cos_sim DOUBLE),
    id_a < id_b, ordered.
    """
    from mapreduce_paper_implementation_spark.functions.vectors import cosine, norm

    v = emb.select(
        F.col(id_col).alias("id"), to_double_vec(vec_col).alias("vec")
    ).withColumn("nrm", norm(F.col("vec")))
    a = v.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a"))
    b = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        cosine(F.col("vec_a"), F.col("vec_b"), F.col("nrm_a"), F.col("nrm_b")).alias("cos"),
    )
    return cosine_pairs_at(pairs, threshold).orderBy("id_a", "id_b")


def cosine_pairs_at(pairs: DataFrame, threshold: float) -> DataFrame:
    """The Spark-side tail of every cosine pair operator, defined once:
    (id_a, id_b, [cell,] cos DOUBLE) rows -> ROUND(cos, 6) as DECIMAL(9,6),
    kept where that decimal >= threshold, projected as cos_sim DOUBLE.
    Rounding and comparing on the decimal makes the cut engine-independent
    (the DuckDB oracles replay it). With a `cell` column, a pair scored in
    several cells collapses to ONE row with its lowest cell; MAX over the
    rounded decimal keeps that deterministic even when two tiles' GEMMs
    differ by an ulp. Unordered."""
    cos_dec = F.round("cos", 6).cast("decimal(9,6)")
    if "cell" in pairs.columns:
        pairs = pairs.groupBy("id_a", "id_b").agg(
            F.min("cell").alias("cell"), F.max(cos_dec).alias("cos_sim")
        )
    else:
        pairs = pairs.select("id_a", "id_b", cos_dec.alias("cos_sim"))
    return pairs.where(F.col("cos_sim") >= threshold).withColumn(
        "cos_sim", F.col("cos_sim").cast("double")
    )


def gemm_cosine_pairs(tiles: DataFrame, keys: list[str], threshold: float) -> DataFrame:
    """The blocked-GEMM cosine pair scorer, defined once; callers own only
    the tile layout. `tiles` rows are (*keys, role, id, vec, mirror): each
    `keys` group is one tile whose role-"L" rows meet its role-"R" rows in
    ONE numpy GEMM inside applyInPandas (BLAS speed; the per-group Arrow
    transfer is the only Python boundary). `mirror` on an R row says the
    layout also meets that row from the other side, so of the two
    orientations only id_L < id_R is kept; a non-mirrored R row keeps every
    id_L != id_R. Each unordered pair is then emitted once per tile layout
    cell it shares.

    numpy only pre-filters, with a 1e-6 margin: above the max round-half-up
    shift (5e-7), so a raw score just under threshold that ROUNDS to it is
    still kept; over-inclusion is harmless because cosine_pairs_at makes the
    exact cut Spark-side. With "cell" among `keys` the output carries the
    tile's cell. Returns cosine_pairs_at's (id_a, id_b, [cell,] cos_sim),
    id_a < id_b, unordered."""
    import pandas as pd

    with_cell = "cell" in keys
    margin = 1e-6

    def score(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        lrows = pdf[pdf["role"] == "L"]
        rrows = pdf[pdf["role"] == "R"]
        out: dict = {"id_a": [], "id_b": [], "cos": []}
        if not (lrows.empty or rrows.empty):
            ml = np.vstack(lrows["vec"].to_numpy())
            mr = np.vstack(rrows["vec"].to_numpy())
            ml = ml / np.linalg.norm(ml, axis=1, keepdims=True)
            mr = mr / np.linalg.norm(mr, axis=1, keepdims=True)
            g = ml @ mr.T
            ii, jj = np.nonzero(g >= threshold - margin)
            ia, ib = lrows["id"].to_numpy()[ii], rrows["id"].to_numpy()[jj]
            keep = np.where(rrows["mirror"].to_numpy()[jj], ia < ib, ia != ib)
            ia, ib = ia[keep], ib[keep]
            out = {"id_a": np.minimum(ia, ib), "id_b": np.maximum(ia, ib), "cos": g[ii, jj][keep]}
        if with_cell:
            out["cell"] = np.full(len(out["id_a"]), int(key[0]), dtype=np.int32)
        return pd.DataFrame(out)

    schema = "id_a long, id_b long, cos double" + (", cell int" if with_cell else "")
    return cosine_pairs_at(tiles.groupBy(*keys).applyInPandas(score, schema), threshold)


def _block_pair_tiles(v: DataFrame, n_blocks: int, keys: list[str]) -> DataFrame:
    """gemm_cosine_pairs layout for an all-pairs join of `v` (id, vec
    [, cell]): rows split into n_blocks blocks by id mod n_blocks, and each
    unordered block pair (pa <= pb) — per cell, when keys hold "cell" — is
    one tile with block pa on the L side and pb on the R side. Each
    unordered pair lands in exactly one tile per shared cell; a pa == pb
    tile meets its rows from both sides (mirror)."""
    v = v.withColumn("blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
    block_pairs = F.broadcast(
        v.sparkSession.createDataFrame(
            [(a, b) for a in range(n_blocks) for b in range(a, n_blocks)], "pa int, pb int"
        )
    )

    def side(role: str, blk: str) -> DataFrame:
        return v.join(block_pairs, F.col("blk") == F.col(blk)).select(
            *keys, F.lit(role).alias("role"), "id", "vec",
            (F.col("pa") == F.col("pb")).alias("mirror"),
        )

    return side("L", "pa").unionByName(side("R", "pb"))


def derive_gemm_blocks(
    n_rows: int, dim: int, tile_mem_bytes: int = 64 << 20
) -> int:
    """Block count B for the tiled all-pairs GEMM so one task's working set
    fits a fixed memory target (VERDICT r05 ask #3 — auto-B, no manual
    scale knob). Two constraints, take the binding one:

    - operand matrices: 2 * (n/B) * dim * 8 bytes  ->  B >= 2*n*dim*8 / M
    - score tile:       (n/B)^2 * 8 bytes          ->  B >= n * sqrt(8 / M)

    The score tile binds for low dim / large n (the common shape); operands
    bind for very wide vectors. Floor 1; no upper cap — replication factor
    is B by design and the caller's corpus size is what drives it.
    """
    import math

    if n_rows <= 0 or dim <= 0:
        return 1
    by_operands = math.ceil(2 * n_rows * dim * 8 / tile_mem_bytes)
    by_tile = math.ceil(n_rows * math.sqrt(8 / tile_mem_bytes))
    return max(1, by_operands, by_tile)


def embedding_neardup_pairs_blocked(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    n_blocks: int | None = None,
    tile_mem_bytes: int = 64 << 20,
) -> DataFrame:
    """Embedding-cosine near-dup via blocked matrix multiplication.

    The scale path for exact all-pairs similarity: split the n vectors into
    B = n_blocks buckets (id mod B), materialize every unordered block pair
    (a <= b) — B(B+1)/2 groups — and compute each group's full cosine
    submatrix with one vectorized numpy GEMM inside applyInPandas. Each
    unordered vector pair lands in exactly one block pair, so output is
    duplicate-free by construction.

    Cost model at scale: data replication factor is B (each block joins B
    partners) and per-task memory is (n/B)*dim doubles for the two operand
    matrices plus the (n/B)^2 score tile. By default B is DERIVED from the
    corpus (one count+dim probe job, then derive_gemm_blocks targets
    `tile_mem_bytes` per task) — pass n_blocks only to pin a plan.
    The GEMM runs at BLAS speed — orders of magnitude above per-pair
    expression evaluation — and the per-group Arrow transfer is the only
    Python boundary.

    Returns (id_a, id_b, cos_sim DOUBLE), id_a < id_b, ordered — the
    gemm_cosine_pairs scorer over _block_pair_tiles.
    """
    v = emb.select(F.col(id_col).alias("id"), to_double_vec(vec_col).alias("vec"))
    if n_blocks is None:
        stats = v.agg(
            F.count(F.lit(1)).alias("n"), F.max(F.size("vec")).alias("dim")
        ).first()
        n_blocks = derive_gemm_blocks(
            stats["n"] or 0, stats["dim"] or 0, tile_mem_bytes
        )
    tiles = _block_pair_tiles(v, n_blocks, ["pa", "pb"])
    return gemm_cosine_pairs(tiles, ["pa", "pb"], threshold).orderBy("id_a", "id_b")


def assign_cells(
    emb: DataFrame,
    centroids: DataFrame,
    nassign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec, cell) rows assigning each vector to its `nassign` nearest
    centroids by cosine (operators/kmeans.py:nearest_centroids) — the
    shared assignment step of the semantic-dedup operator, ivf_topk and
    the streaming ANN-index maintainer. The rule is deterministic across
    calls, which is what makes a STORED assignment delta joinable with
    tomorrow's batch. One broadcast centroid-array row and a NARROW
    per-vector array_sort + slice + explode: the vectors never shuffle."""
    from mapreduce_paper_implementation_spark.functions.vectors import norm
    from mapreduce_paper_implementation_spark.operators.kmeans import nearest_centroids
    from mapreduce_paper_implementation_spark.operators.parallel import (
        spread_partitions,
    )

    carr = centroids.select(
        "cell", "c_vec", norm(F.col("c_vec")).alias("c_nrm")
    ).agg(F.collect_list(F.struct("cell", "c_vec", "c_nrm")).alias("_cents"))
    v = spread_partitions(
        emb.select(F.col(id_col).alias("id"), to_double_vec(vec_col).alias("vec"))
    ).withColumn("nrm", norm(F.col("vec")))
    top = F.slice(nearest_centroids(F.col("vec"), F.col("_cents"), nrm=F.col("nrm")), 1, nassign)
    return (
        v.crossJoin(F.broadcast(carr))
        .select(
            "id",
            "vec",
            F.explode(F.transform(top, lambda t: t["cell"])).alias("_cell"),
        )
        .select("id", "vec", F.col("_cell").cast("int").alias("cell"))
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    n_cells: int = 16,
    threshold: float = 0.45,
    n_blocks: int = 4,
    nassign: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means-cluster the embedding
    space, then compare pairs only WITHIN a cluster cell (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — the standard recipe for dropping semantically redundant
    training documents that exact/MinHash dedup cannot see).

    Scale shape (the reason this beats all-pairs at 100 TB): the cross-cell
    pair space — the overwhelming majority of all pairs — is never
    materialized. Cost is sum over cells of |cell|^2 / (2 * B^2) GEMM tiles
    instead of n^2/2: with k balanced cells that is a k-fold reduction
    before blocking. Within a cell the comparison reuses the blocked-GEMM
    kernel (embedding_neardup_pairs_blocked): sub-block by id mod B inside
    EACH cell, so one pathological hot cell degrades to bounded
    (|cell|/B)^2 tiles rather than one task holding the whole cell — the
    same hot-bucket posture as _drop_hot_buckets.

    Centroids come from `centroids` ((cell, c_vec)) or are trained inline
    with operators/kmeans.py:kmeans_fit (2 Lloyd iterations, tol=0 so the
    iteration count is deterministic — the q29/q72 oracle unrolls exactly
    that many). Assignment is assign_cells, so index build and dedup agree
    on cell boundaries.

    `nassign` is the boundary-recall knob (the nprobe analog): each vector
    joins its nassign nearest cells, and a pair is scored when the two
    vectors SHARE any cell. Single-assignment loses exactly the near-dups
    that straddle a Voronoi boundary — measured on the planted scale corpus
    (BENCH_SCALE.json), recall at cos>=0.85 decayed 0.84 -> 0.67 from 1x to
    30x with nassign=1 and recovers with 2 — at the cost of an nassign-fold
    data replication, the same trade IVF makes.

    Returns (id_a, id_b, cell INT, cos_sim DOUBLE), id_a < id_b, ordered;
    a pair sharing several cells reports the lowest shared cell once
    (gemm_cosine_pairs over _block_pair_tiles keyed by cell).
    """
    from mapreduce_paper_implementation_spark.operators.kmeans import kmeans_fit

    if centroids is None:
        centroids = kmeans_fit(emb, k=n_cells, max_iter=2, tol=0.0)
    assigned = assign_cells(emb, centroids, nassign=nassign, id_col=id_col, vec_col=vec_col)
    keys = ["cell", "pa", "pb"]
    tiles = _block_pair_tiles(assigned, n_blocks, keys)
    return gemm_cosine_pairs(tiles, keys, threshold).orderBy("id_a", "id_b")


def survivor_stats(
    docs: DataFrame,
    clusters: DataFrame | None = None,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source survivor materialization — "keep one doc per near-dup
    cluster" (the artifact a dedup pipeline ships): n_docs, n_kept,
    n_dropped, kept_tokens when each cluster keeps only its min-id member.

    `clusters` is the (id, component) cluster map. Pass the MATERIALIZED map
    (q41's output — operators/graph.connected_components over the pair
    graph) in production: re-closing the pair graph per downstream consumer
    re-pays the inverted-index self-join and the label-propagation rounds
    every time, which is the expensive half of the pipeline. When omitted,
    the map is computed inline from ngram_jaccard_pairs(threshold) — the
    self-contained shape the q58 manifest query uses.

    The victim set (members != representative) is tiny relative to the
    corpus, so it broadcasts and the corpus-side pass is map-only — no
    corpus shuffle either way.
    """
    from mapreduce_paper_implementation_spark.functions.text import token_count
    from mapreduce_paper_implementation_spark.operators.graph import (
        connected_components,
    )

    if clusters is None:
        clusters = connected_components(
            ngram_jaccard_pairs(
                docs, id_col=id_col, text_col=text_col, threshold=threshold,
                sort=False,  # CC symmetrizes+distincts: output sort is dead cost
            )
        )
    victims = clusters.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col), F.lit(1).alias("is_victim")
    )
    flagged = docs.join(F.broadcast(victims), id_col, "left")
    kept = F.col("is_victim").isNull()
    return (
        flagged.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.coalesce("is_victim", F.lit(0))).cast("bigint").alias("n_dropped"),
            F.sum(F.when(kept, token_count(text_col)).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


def canonical_docs(
    docs: DataFrame,
    clusters: DataFrame | None = None,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_chars_col: str = "n_chars",
) -> DataFrame:
    """Canonical-document selection: per near-dup cluster, keep the BEST
    doc, not the arbitrary min-id one — (component, canonical_id,
    n_members, canonical_quality).

    survivor_stats keeps min-id per cluster (cheap, deterministic, but
    blind); a production training-data pipeline keeps the highest-QUALITY
    member (the RefinedWeb/FineWeb-style canonicalization step), falling
    back to min id on exact quality ties so the choice is total-ordered.
    Quality is q24's composite, rounded to 6 decimals BEFORE comparison so
    the winner is identical across engines and float orders.

    `clusters` as in survivor_stats: pass the materialized q41 (id,
    component) map in production; computed inline from
    ngram_jaccard_pairs(threshold) when omitted (the q78 manifest shape).

    Scale shape: quality is a pure codegen projection over the docs scan;
    the member join keys on id; the argmax is ONE aggregate via
    max(struct(quality, -id)) — lexicographic struct max gives max quality
    then min id with no window sort; struct max plans as a SortAggregate
    partial/final pair, so the map-side combine still runs before the
    shuffle (tests/test_plans.py pins the shape).
    Reference analog: none (beyond-reference pipeline surface).
    """
    from mapreduce_paper_implementation_spark.operators.graph import (
        connected_components,
    )
    from mapreduce_paper_implementation_spark.operators.text_analysis import (
        quality_score,
    )

    if clusters is None:
        clusters = connected_components(
            ngram_jaccard_pairs(
                docs, id_col=id_col, text_col=text_col, threshold=threshold,
                sort=False,  # CC symmetrizes+distincts: output sort is dead cost
            )
        )
    quality = docs.select(
        F.col(id_col).alias("id"),
        F.round(quality_score(text_col, n_chars_col), 6)
        .cast("decimal(9,6)")
        .cast("double")
        .alias("quality"),
    )
    members = clusters.join(quality, "id")
    return (
        members.groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.max(
                F.struct(
                    F.col("quality").alias("q"), (-F.col("id")).alias("neg_id")
                )
            ).alias("best"),
        )
        .select(
            "component",
            (-F.col("best.neg_id")).cast("bigint").alias("canonical_id"),
            F.col("n_members"),
            F.col("best.q").alias("canonical_quality"),
        )
        .orderBy("component")
    )


def semantic_decontaminate(
    emb: DataFrame,
    eval_mod: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    n_cells: int = 16,
    threshold: float = 0.35,
    nassign: int = 2,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of the
    lexical q55 n-gram gate: a training vector is contaminated when its
    cosine against ANY eval-slice vector reaches `threshold`. Lexical
    overlap misses paraphrased/translated eval leakage; SemDeDup-era
    pipelines (Abbas et al. 2023) run this embedding gate alongside the
    n-gram one.

    Shares the ENTIRE trained index with q29/q72: kmeans_fit centroids
    (2 Lloyd rounds, lowest-id seeding, tol=0) + assign_cells, with
    `nassign` cells per vector as
    the boundary-recall knob — so the oracle replays the identical
    _ivf_build_ctes and cell boundaries cannot drift between the three
    semantic queries.

    Scale shape (the q55 posture lifted to embedding space): the eval
    slice is benchmark-sized (MBs) vs a TB corpus, so the per-cell eval
    vectors BROADCAST and the corpus streams map-side against them — the
    corpus never shuffles, no GEMM tile stage, no Python boundary (the
    cosine is the JVM fold from functions/vectors.py). Pair rows exist
    only within shared cells (bounded by |eval ∩ cell| per corpus row);
    the only shuffles are over HIT pairs, rare by construction.

    Returns (vec_id, n_eval_hits, max_eval_cos DOUBLE): one row per
    contaminated training vector, n_eval_hits = how many distinct eval
    items reach the threshold, max_eval_cos = the worst leak. Rounding
    contract: per-(train, eval) best cosine is ROUND(,6) as DECIMAL(9,6)
    (multi-cell duplicates collapse to MAX — identical values), threshold
    compare on the decimal, final cast to DOUBLE.
    """
    from mapreduce_paper_implementation_spark.functions.vectors import cosine, norm
    from mapreduce_paper_implementation_spark.operators.kmeans import kmeans_fit

    from mapreduce_paper_implementation_spark.operators.caching import scoped_persist

    if centroids is None:
        centroids = kmeans_fit(
            emb, k=n_cells, max_iter=2, tol=0.0, id_col=id_col, vec_col=vec_col
        )
    assigned = assign_cells(emb, centroids, nassign=nassign, id_col=id_col, vec_col=vec_col)
    # scoped_persist: `assigned` feeds TWO consumers (the eval slice and the
    # training slice) — without it each replays the scan + broadcast-score +
    # rank window (the q97 recompute class; 2 corpus scans instead of 1,
    # caught by the round-10 plan audit)
    assigned = scoped_persist(assigned.withColumn("nrm", norm(F.col("vec"))))
    ev = assigned.where(F.col("id") % eval_mod == 0).select(
        F.col("cell"),
        F.col("id").alias("eval_id"),
        F.col("vec").alias("e_vec"),
        F.col("nrm").alias("e_nrm"),
    )
    tr = assigned.where(F.col("id") % eval_mod != 0)
    return decontam_probe(tr, ev, threshold).orderBy("vec_id")


def decontam_probe(tr: DataFrame, ev: DataFrame, threshold: float) -> DataFrame:
    """The shared probe tail of q116 AND its streaming twin
    (streaming/decontam_index.py): training rows (id, cell, vec, nrm)
    stream map-side against the BROADCAST cell-assigned eval index
    (cell, eval_id, e_vec, e_nrm); per-(train, eval) best cosine is
    ROUND(,6) DECIMAL (multi-cell duplicates collapse to MAX — identical
    values), threshold on the decimal, per-train rollup. Because every
    output row is a pure function of ONE training vector and the (frozen)
    eval index, any partition of the corpus into batches unions to the
    one-shot result BIT-exactly — the property the streaming twin's
    differential test pins. Unordered: one-shot q116 adds its manifest
    ORDER BY; the maintainer stores deltas unordered."""
    from mapreduce_paper_implementation_spark.functions.vectors import cosine

    best = (
        tr.join(F.broadcast(ev), "cell")
        .select(
            F.col("id").alias("vec_id"),
            "eval_id",
            F.round(
                cosine(F.col("vec"), F.col("e_vec"), F.col("nrm"), F.col("e_nrm")), 6
            )
            .cast("decimal(9,6)")
            .alias("cos_dec"),
        )
        .groupBy("vec_id", "eval_id")
        .agg(F.max("cos_dec").alias("c"))
    )
    return (
        best.where(F.col("c") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("n_eval_hits"),
            F.max("c").cast("double").alias("max_eval_cos"),
        )
    )
