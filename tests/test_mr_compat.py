"""MR-compat API tests: the reference's three real applications re-expressed
as user mapf/reducef closures, cross-checked against the engine's DataFrame
queries on the same corpus.

This is the engine's analog of the reference's differential scheme: the
RDD-based MR path plays the role of the distributed engine, the
Catalyst-optimized query plays the role of the oracle.
"""

from __future__ import annotations

import re
import uuid

import pytest

from mapreduce_paper_implementation_spark.mr import mr_df_run, mr_run
from mapreduce_paper_implementation_spark.plans.queries import QUERIES
from mapreduce_paper_implementation_spark.sources.tables import load_table

# NOTE: helpers used inside mapf/reducef closures must be *local* to each
# test function — cloudpickle serializes module-level functions by reference,
# and `tests/` is not importable on Spark executors.


def _make_tokenizer():
    def tokens(text: str) -> list[str]:
        return [t for t in re.split(r"[^A-Za-z]+", text) if t]

    return tokens


@pytest.fixture(scope="module")
def corpus_dir(spark, sf_dir, tmp_path_factory):
    """Materialize documents as one whole text file per doc, named by doc_id
    (the reference's one-file-one-split input model, mr/worker.go:58-70)."""
    out = tmp_path_factory.mktemp("corpus")
    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for r in rows:
        (out / str(r["doc_id"])).write_text(r["text"])
    return str(out)


def test_mr_wordcount_matches_dataframe_query(spark, sf_dir, corpus_dir):
    # mrapps/wc.go:21-42 re-expressed as Python closures
    _tokens = _make_tokenizer()

    def mapf(filename: str, contents: str):
        return [(w, "1") for w in _tokens(contents)]

    def reducef(key: str, values: list[str]) -> str:
        return str(len(values))

    mr = {
        (r["key"], int(r["value"]))
        for r in mr_run(spark, mapf, reducef, corpus_dir, n_reduce=4).collect()
    }
    df = {(r["token"], r["cnt"]) for r in QUERIES["q01_wordcount"](spark, sf_dir).collect()}
    assert mr == df


def test_mr_indexer_matches_dataframe_query(spark, sf_dir, corpus_dir):
    # mrapps/indexer.go:21-40: map-side de-dup, reduce sorts + joins doc names
    _tokens = _make_tokenizer()

    def mapf(filename: str, contents: str):
        return [(w, filename) for w in set(_tokens(contents))]

    def reducef(key: str, values: list[str]) -> str:
        values = sorted(values)
        return f"{len(values)} {','.join(values)}"

    mr = {
        (r["key"], r["value"])
        for r in mr_run(spark, mapf, reducef, corpus_dir, n_reduce=4).collect()
    }
    df = {
        (r["token"], f"{r['df_count']} {r['doc_list']}")
        for r in QUERIES["q02_inverted_index"](spark, sf_dir).collect()
    }
    assert mr == df


def test_mr_credit_matches_dataframe_query(spark, sf_dir, tmp_path_factory):
    # mrapps/credit.go:21-58: permissive CSV parse inside the Map function
    from mapreduce_paper_implementation_spark.sources.credit_fixture import credit_paths

    _, csv_path = credit_paths(sf_dir)
    workdir = tmp_path_factory.mktemp("credit")
    import shutil

    shutil.copy(csv_path, workdir / "credit.csv")

    def mapf(filename: str, contents: str):
        out = []
        for i, line in enumerate(contents.splitlines()):
            if i == 0:
                continue  # header skip (credit.go:25-27)
            fields = line.split(",")
            if len(fields) < 4:
                continue  # short row (credit.go:30-32)
            try:
                year = int(fields[2])
                score = int(fields[3])
            except ValueError:
                continue  # non-integer (credit.go:34-41)
            if year == 2023 and score > 400:
                out.append((fields[1], fields[0]))
        return out

    def reducef(key: str, values: list[str]) -> str:
        return str(len(values))

    mr = {
        (r["key"], int(r["value"]))
        for r in mr_run(spark, mapf, reducef, str(workdir), n_reduce=4).collect()
    }
    df = {(r["agency"], r["cnt"]) for r in QUERIES["q03_credit"](spark, sf_dir).collect()}
    assert mr == df


def test_mr_df_run_partial_agg_variant(spark, sf_dir, corpus_dir):
    from pyspark.sql import functions as F

    _tokens = _make_tokenizer()

    def mapf(filename: str, contents: str):
        return [(w, "1") for w in _tokens(contents)]

    out = mr_df_run(spark, mapf, corpus_dir, F.count("*").alias("cnt"), n_reduce=4)
    df = {(r["token"], r["cnt"]) for r in QUERIES["q01_wordcount"](spark, sf_dir).collect()}
    assert {(r["key"], r["cnt"]) for r in out.collect()} == df


def test_mr_run_to_text_sink_format(spark, corpus_dir, tmp_path_factory):
    from mapreduce_paper_implementation_spark.mr import mr_run_to_text

    out = str(tmp_path_factory.mktemp("sink") / "out")

    def mapf(filename: str, contents: str):
        return [(filename, "1")]

    def reducef(key: str, values: list[str]) -> str:
        return str(len(values))

    sc = spark.sparkContext
    group = f"mr-text-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "mr_run_to_text stage-count gate")
    try:
        mr_run_to_text(spark, mapf, reducef, corpus_dir, out, n_reduce=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    stages = [
        s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds
    ]
    # the map stage and the reduce stage that writes the part files: the
    # reduce output already has n_reduce partitions, so no third shuffle
    assert len(stages) == 2, f"mr_run_to_text ran {len(stages)} stages, want 2"
    import glob

    parts = sorted(glob.glob(out + "/part-*"))
    assert len(parts) == 3
    lines = [ln for p in parts for ln in open(p).read().splitlines()]
    # every line is the reference's '"key value"' output format (worker.go:156)
    assert all(len(ln.split(" ")) == 2 for ln in lines)
    assert all(ln.split(" ")[1] == "1" for ln in lines)


def test_mr_keys_with_pipes_survive(spark, tmp_path_factory):
    """Reference quirk NOT copied: keys containing '|' or newline are
    silently dropped by its shuffle format (mr/worker.go:128-134). Ours
    must keep them."""
    d = tmp_path_factory.mktemp("pipes")
    (d / "f1").write_text("whatever")

    def mapf(filename: str, contents: str):
        return [("a|b", "1"), ("c\nd", "2")]

    def reducef(key: str, values: list[str]) -> str:
        return ",".join(values)

    got = {(r["key"], r["value"]) for r in mr_run(spark, mapf, reducef, str(d), 2).collect()}
    assert got == {("a|b", "1"), ("c\nd", "2")}


def test_mr_crash_app_data_shape(spark, corpus_dir):
    """B5/B6 (mrapps/crash.go:36-57, nocrash.go): per-file metadata emission
    with sort+space-join reduce — the data output the chaos test
    byte-compares. Cross-checked against a pure-Python run over the same
    files."""
    import glob as _glob
    import os as _os

    def mapf(filename: str, contents: str):
        # crash.go:40-43 emits (a, filename), (b, len(filename)), (c, len(contents)), (d, xyzzy)
        return [
            ("a", filename),
            ("b", str(len(filename))),
            ("c", str(len(contents))),
            ("d", "xyzzy"),
        ]

    def reducef(key: str, values: list[str]) -> str:
        return " ".join(sorted(values))  # crash.go:50-56

    got = {
        (r["key"], r["value"])
        for r in mr_run(spark, mapf, reducef, corpus_dir, n_reduce=4).collect()
    }
    files = sorted(_glob.glob(_os.path.join(corpus_dir, "*")))
    names = [_os.path.basename(f) for f in files]
    texts = {n: open(f).read() for n, f in zip(names, files)}
    want = {
        ("a", " ".join(sorted(names))),
        ("b", " ".join(sorted(str(len(n)) for n in names))),
        ("c", " ".join(sorted(str(len(texts[n])) for n in names))),
        ("d", " ".join(["xyzzy"] * len(names))),
    }
    assert got == want


def test_mr_early_exit_count_per_file(spark, corpus_dir):
    """B7 (mrapps/early_exit.go:19-23): one count per input file."""
    import glob as _glob
    import os as _os

    def mapf(filename: str, contents: str):
        return [(filename, "1")]

    def reducef(key: str, values: list[str]) -> str:
        return str(len(values))

    got = {
        (r["key"], r["value"])
        for r in mr_run(spark, mapf, reducef, corpus_dir, n_reduce=4).collect()
    }
    want = {
        (_os.path.basename(f), "1") for f in _glob.glob(_os.path.join(corpus_dir, "*"))
    }
    assert got == want


def test_parallelism_probe_barrier(spark):
    """B8/B9 (mrapps/mtiming.go, rtiming.go): the reference measures that >=2
    workers run concurrently. Spark's barrier mode proves the same property
    structurally: barrier() only returns when ALL tasks of the stage are
    running simultaneously — if the scheduler serialized them, this would
    hang (pytest timeout guards)."""
    from pyspark import BarrierTaskContext

    def probe(it):
        ctx = BarrierTaskContext.get()
        ctx.barrier()  # requires all 4 tasks concurrently alive
        yield ctx.partitionId()

    got = sorted(
        spark.sparkContext.parallelize(range(4), 4).barrier().mapPartitions(probe).collect()
    )
    assert got == [0, 1, 2, 3]
