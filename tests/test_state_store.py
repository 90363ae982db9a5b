"""Versioned state directories (statedir.py): crash injection on both
layouts, the shared vacuum(keep) meaning, the recorded leaf schemas (reads
that plan without a Spark job, the inference fall-back, torn records, and
equality with an inferring read for every leaf kind), the source-table
schema memo, and structural pins that no other module hand-rolls a pointer
commit or a state parquet read or write.

Each crash case runs on the full-state layout (a RollupMaintainer whose
state is the union of its edge batches, one v{N} per batch) and on the
delta-chain layout (TriangleMaintainer, batches/b{N} plus a compacted
baseline), through the public maintainer API; the on-disk damage is made by
hand, the way a crash would leave it."""

from __future__ import annotations

import ast
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from mapreduce_paper_implementation_spark.sources.tables import (
    CANONICAL_SCHEMAS,
    TABLE_NAMES,
    _normalize_table,
    load_table,
)
from mapreduce_paper_implementation_spark.statedir import SCHEMA, read_parquet
from mapreduce_paper_implementation_spark.streaming.cc_index import (
    ComponentsMaintainer,
)
from mapreduce_paper_implementation_spark.streaming.rollup import RollupMaintainer
from mapreduce_paper_implementation_spark.streaming.tri_index import (
    TriangleMaintainer,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mapreduce_paper_implementation_spark",
)
BATCHES = [[(1, 2), (2, 3)], [(1, 3), (3, 4)], [(2, 4), (4, 5)], [(1, 4), (5, 6)]]


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _full(spark, root):
    m = RollupMaintainer(
        spark, root, state_fn=lambda d: d, merge_fn=lambda a, b: a.unionByName(b)
    )
    return m, m.current_state, m.store.version_dir


def _chain(spark, root):
    m = TriangleMaintainer(spark, root)
    return m, m.edges, lambda b: m.store.batch_dir(b, "edges")


LAYOUTS = pytest.mark.parametrize("layout", [_full, _chain], ids=["full", "chain"])


def _rows(df):
    return None if df is None else sorted(tuple(r) for r in df.collect())


def _ingest(spark, m, upto, start=0):
    for b in range(start, upto):
        m.update(_edges(spark, BATCHES[b]), b)


@LAYOUTS
def test_leftover_tmp_pointer_is_ignored(spark, tmp_path, layout):
    m, read, _ = layout(spark, str(tmp_path / "s"))
    _ingest(spark, m, 2)
    before = _rows(read())
    # crash after writing <ptr>.tmp, before the rename
    with open(os.path.join(m.store.root, "_CURRENT.tmp"), "w") as fh:
        fh.write("9")
    assert m.store.pointer() == 1
    assert _rows(read()) == before
    m.update(_edges(spark, BATCHES[2]), 2)
    assert m.store.pointer() == 2
    assert not os.path.exists(os.path.join(m.store.root, "_CURRENT.tmp"))


@LAYOUTS
def test_uncommitted_residue_is_invisible_and_replaced(spark, tmp_path, layout):
    m, read, leaf_dir = layout(spark, str(tmp_path / "s"))
    _ingest(spark, m, 1)
    m.update(_edges(spark, BATCHES[2]), 2)
    before = _rows(read())
    # residue of batch 1 (full: a version nobody committed; chain: a batch
    # dir below the pointer with no marker) and of an in-flight batch 3
    junk = _edges(spark, [(90, 91)])
    if layout is _chain:
        junk = junk.toDF("a", "b")
    for b in (1, 3):
        junk.write.mode("overwrite").parquet(leaf_dir(b))
    assert _rows(read()) == before
    m.update(_edges(spark, BATCHES[3]), 3)
    got = _rows(read())
    assert all(90 not in r for r in got), "residue leaked into committed state"
    if layout is _chain:
        assert 1 not in m.store.batch_ids(), "unmarked residue was not purged"


@LAYOUTS
def test_torn_pointer_raises_naming_the_path(spark, tmp_path, layout):
    m, read, _ = layout(spark, str(tmp_path / "s"))
    _ingest(spark, m, 1)
    path = os.path.join(m.store.root, "_CURRENT")
    for content in (b"", b"\x00\x00", b"1\x00"):  # empty, zero-filled, cut
        with open(path, "wb") as fh:
            fh.write(content)
        with pytest.raises(ValueError) as exc:
            read()
        assert path in str(exc.value) and repr(content) in str(exc.value)
        with pytest.raises(ValueError, match="torn state pointer"):
            m.update(_edges(spark, BATCHES[1]), 1)


@LAYOUTS
def test_replayed_batch_is_a_noop(spark, tmp_path, layout):
    m, read, _ = layout(spark, str(tmp_path / "s"))
    _ingest(spark, m, 2)
    before = _rows(read())
    assert m.update(_edges(spark, [(7, 8)]), 1) is None
    assert m.update(_edges(spark, [(7, 8)]), 0) is None
    assert m.store.pointer() == 1
    assert _rows(read()) == before


@LAYOUTS
def test_gc_never_removes_a_dir_above_the_pointer(spark, tmp_path, layout):
    m, read, leaf_dir = layout(spark, str(tmp_path / "s"))
    _ingest(spark, m, 3)
    inflight = leaf_dir(5)
    _edges(spark, [(90, 91)]).write.mode("overwrite").parquet(inflight)
    if layout is _full:
        assert m.vacuum(keep=1) == [0, 1]
    else:
        assert m.compact() == 2
    assert os.path.isdir(inflight)
    assert m.store.pointer() == 2


def test_vacuum_keep_counts_committed_plus_predecessors(spark, tmp_path):
    """vacuum(keep=2) with one in-flight version above the pointer keeps
    the committed version and ONE predecessor, and never removes the
    in-flight dir (ComponentsMaintainer keeps one more; see its vacuum)."""
    from mapreduce_paper_implementation_spark.streaming.pagerank_index import (
        PageRankMaintainer,
    )

    for cls in (RollupMaintainer, PageRankMaintainer):
        root = tmp_path / cls.__name__
        for v in range(4):  # v0..v2 committed history, v3 in flight
            os.makedirs(root / f"v{v:010d}")
        (root / "_CURRENT").write_text("2")
        m = cls(spark, str(root))
        assert m.vacuum(keep=2) == [0], cls.__name__
        assert sorted(os.listdir(root)) == [
            "_CURRENT", "v0000000001", "v0000000002", "v0000000003"
        ], cls.__name__


def _package_modules():
    for d, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                yield os.path.relpath(path, PKG), ast.parse(open(path).read())


def test_only_statedir_commits_pointers_and_lists_versions():
    """The layout and the commit rule live in statedir.py alone: no other
    module renames onto a pointer, names a pointer or marker file, lists a
    directory, or formats a v/b/g version dir name. The textkv sink's
    task-file commit is the one rename outside it."""
    names = {"_CURRENT", "_BASELINE", "_EVAL", "_CENTROIDS", "_COMMITTED"}
    bad = []
    for rel, tree in _package_modules():
        if rel == "statedir.py":
            continue
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        for n in ast.walk(tree):
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                call = f"{n.value.id}.{n.attr}"
                if call in ("os.replace", "os.rename", "os.listdir", "os.scandir") and (
                    rel != os.path.join("sources", "textkv_datasource.py")
                ):
                    bad.append((rel, n.lineno, call))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if id(n) not in docstrings and any(p in n.value for p in names):
                    bad.append((rel, n.lineno, n.value))
            elif isinstance(n, ast.JoinedStr):
                head = n.values[0] if n.values else None
                if (
                    isinstance(head, ast.Constant)
                    and str(head.value).endswith(("v", "b", "g"))
                    and len(n.values) > 1
                    and isinstance(n.values[1], ast.FormattedValue)
                    and n.values[1].format_spec is not None
                ):
                    bad.append((rel, n.lineno, "version dir name"))
    assert not bad, bad


EXPORTERS = {
    os.path.join("sources", "release_export.py"),
    os.path.join("sources", "mixture_export.py"),
    os.path.join("operators", "ann_release.py"),
}


def test_state_parquet_io_goes_through_statedir():
    """Under streaming/ and in the three exporters no code calls a parquet
    reader or writer itself: every state leaf is written by
    statedir.write_parquet, which records its schema, and read by
    statedir.read_parquet, which uses the record."""
    bad = [
        (rel, n.lineno)
        for rel, tree in _package_modules()
        if rel.startswith("streaming" + os.sep) or rel in EXPORTERS
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "parquet"
    ]
    assert not bad, bad


# -- recorded leaf schemas -------------------------------------------------


def _jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"state-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "state read job-count gate")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _components(spark, root):
    m = ComponentsMaintainer(spark, root)
    m.update(spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long"), 0)
    m.update(spark.createDataFrame([(2, 3)], "id_a long, id_b long"), 1)
    return m


def _plan_labels(spark, root, sf_dir):
    return _components(spark, root).labels, [(1, 1), (2, 1), (3, 1), (4, 1)]


def _plan_changed(spark, root, sf_dir):
    m = _components(spark, root)
    return (lambda: m.changed(1)), [(3, 1), (4, 1)]


def _plan_current_state(spark, root, sf_dir):
    m, read, _ = _full(spark, root)
    _ingest(spark, m, 2)
    return read, sorted(BATCHES[0] + BATCHES[1])


def _plan_baseline_plus_chain(spark, root, sf_dir):
    m, _, _ = _chain(spark, root)
    _ingest(spark, m, 2)
    assert m.compact() == 1
    _ingest(spark, m, 4, start=2)
    dirs = m.store.committed_dirs("edges")
    assert len(dirs) == 3 and "baseline" in dirs[0], dirs
    want = _rows(spark.read.parquet(*dirs))
    return (lambda: m.store.read_leaf(spark, "edges")), want


def _plan_repeated_load_table(spark, root, sf_dir):
    os.makedirs(root)
    shutil.copy(os.path.join(sf_dir, "region.parquet"), root)
    want = _rows(load_table(spark, root, "region"))  # the first read infers
    return (lambda: load_table(spark, root, "region")), want


@pytest.mark.parametrize(
    "setup",
    [
        _plan_labels,
        _plan_changed,
        _plan_current_state,
        _plan_baseline_plus_chain,
        _plan_repeated_load_table,
    ],
    ids=[
        "components.labels",
        "components.changed",
        "rollup.current_state",
        "read_leaf.baseline_plus_chain",
        "load_table.repeat",
    ],
)
def test_planning_a_read_runs_no_spark_job(spark, tmp_path, sf_dir, setup):
    """Planning a read of engine-written state, or a repeated read of an
    unchanged source table, launches no Spark job: the schema comes from
    the leaf's record or the per-file memo, not from a footer-reading job."""
    plan, want = setup(spark, str(tmp_path / "s"), sf_dir)
    df, n_jobs = _jobs(spark, plan)
    assert n_jobs == 0, f"planning the read ran {n_jobs} Spark jobs"
    assert _rows(df) == want


def test_rewritten_source_file_is_inferred_afresh(spark, tmp_path):
    """A table rewritten at the same path with another schema reads with
    the new schema, for a single file rewritten in place and for a
    Spark-written directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path)
    path = os.path.join(sf, "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, sf, "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = load_table(spark, sf, "t")
    assert df.schema.simpleString() == "struct<b:string,c:double>"
    assert _rows(df) == [("x", 1.5)]

    path = os.path.join(sf, "u.parquet")
    spark.range(2).write.parquet(path)
    assert load_table(spark, sf, "u").columns == ["id"]
    spark.range(1).select(F.lit("y").alias("s")).write.mode("overwrite").parquet(path)
    assert _rows(load_table(spark, sf, "u")) == [("y",)]


@LAYOUTS
def test_leaf_without_schema_record_is_read_by_inference(spark, tmp_path, layout):
    """State written before leaves carried a schema record still reads: the
    read infers (one footer job) and returns the same rows."""
    m, read, leaf_dir = layout(spark, str(tmp_path / "s"))
    _ingest(spark, m, 2)
    before = _rows(read())
    os.remove(os.path.join(leaf_dir(1), SCHEMA))
    df, n_jobs = _jobs(spark, read)
    assert n_jobs == 1, n_jobs
    assert _rows(df) == before


@LAYOUTS
def test_torn_schema_record_raises_naming_the_path(spark, tmp_path, layout):
    m, read, leaf_dir = layout(spark, str(tmp_path / "s"))
    _ingest(spark, m, 1)
    path = os.path.join(leaf_dir(0), SCHEMA)
    for content in (b"", b"\x00\x00", b'{"type": "struct", "fi', b'{"type": "struct"}', b"[1]"):
        with open(path, "wb") as fh:
            fh.write(content)
        with pytest.raises(ValueError) as exc:
            read()
        assert path in str(exc.value) and "torn schema record" in str(exc.value)


# -- equality with an inferring read ----------------------------------------


def _same_read(spark, path, recorded):
    """The recorded-schema read of `path` equals an inferring read: names,
    types and order of the schema, and the rows."""
    inferred = spark.read.parquet(path)
    assert recorded.schema == inferred.schema, path
    assert sorted(map(repr, recorded.collect())) == sorted(map(repr, inferred.collect())), path


def _every_leaf_kind(spark, sf_dir, root):
    """Run every maintainer and exporter on small inputs under `root`."""
    from mapreduce_paper_implementation_spark.operators.ann_release import (
        load_ann_index,
        publish_ann_index,
    )
    from mapreduce_paper_implementation_spark.sources.mixture_export import (
        export_mixture,
    )
    from mapreduce_paper_implementation_spark.sources.release_export import (
        export_packed_release,
        export_release,
    )
    from mapreduce_paper_implementation_spark.streaming.ann_index import (
        AnnIndexMaintainer,
    )
    from mapreduce_paper_implementation_spark.streaming.bloom import (
        SeenKeysMaintainer,
    )
    from mapreduce_paper_implementation_spark.streaming.contamination_index import (
        ContaminationIndexMaintainer,
    )
    from mapreduce_paper_implementation_spark.streaming.decontam_index import (
        DecontamIndexMaintainer,
    )
    from mapreduce_paper_implementation_spark.streaming.dedup_index import (
        DedupIndexMaintainer,
    )
    from mapreduce_paper_implementation_spark.streaming.gram_index import (
        GramIndexMaintainer,
    )
    from mapreduce_paper_implementation_spark.streaming.pagerank_index import (
        PageRankMaintainer,
    )
    from mapreduce_paper_implementation_spark.streaming.release_view import (
        ReleaseCutView,
    )
    from mapreduce_paper_implementation_spark.streaming.rollup import (
        postings_maintainer,
    )
    from mapreduce_paper_implementation_spark.streaming.scd2 import Scd2Maintainer
    from mapreduce_paper_implementation_spark.streaming.transitions import (
        TransitionMaintainer,
    )
    from mapreduce_paper_implementation_spark.streaming.tri_index import (
        TriangleMaintainer,
    )

    def at(name):
        return os.path.join(root, name)

    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    emb = load_table(spark, sf_dir, "embeddings")
    halves = [F.col("doc_id") % 2 == b for b in range(2)]
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    edges = _edges(spark, [(1, 2), (2, 3), (3, 1)])

    _components(spark, at("components"))
    RollupMaintainer(spark, at("rollup")).update(events, 0)
    postings_maintainer(spark, at("postings")).update(docs, 0)
    TransitionMaintainer(spark, at("transitions")).update(events, 0)
    Scd2Maintainer(spark, at("scd2")).update(load_table(spark, sf_dir, "orders"), 0)
    tri = TriangleMaintainer(spark, at("tri"))
    tri.update(edges, 0)
    tri.compact()
    PageRankMaintainer(spark, at("pagerank")).update(edges, 0)
    seen = SeenKeysMaintainer(spark, at("seen"), ["source"], num_bits=1 << 10)
    dedup = DedupIndexMaintainer(spark, at("dedup"), threshold=0.8)
    grams = GramIndexMaintainer(spark, at("grams"), k=4)
    contam = ContaminationIndexMaintainer(spark, at("contam"))
    for b, half in enumerate(halves):
        seen.update(docs.where(half), b)
        dedup.update(docs.where(half), b)
        grams.update(docs.where(half), b)
        contam.update(docs.select("doc_id", "text").where(half), b)
    for m in (seen, dedup, grams, contam):
        m.compact()
    ann = AnnIndexMaintainer(spark, at("ann"), n_cells=4, nassign=2, threshold=0.45)
    ann.update(emb, 0)
    ann.retrain()
    publish_ann_index(emb, at("ann_release"))
    cents = load_ann_index(spark, at("ann_release"))["centroids"]
    dc = DecontamIndexMaintainer(spark, at("decontam"), cents)
    dc.set_eval(emb.where(F.col("vec_id") % 7 == 0), gen=0)
    dc.update(emb.where(F.col("vec_id") % 7 != 0), 0)
    ReleaseCutView(spark, at("release_view"), cents).update(docs, emb, pairs, 0)
    perdoc = docs.select(
        "doc_id",
        F.lit(3).cast("long").alias("tc"),
        F.when(F.col("doc_id") % 5 == 0, "test").otherwise("train").alias("split"),
        (F.col("doc_id") % 3).alias("shard"),
    )
    ledger = spark.createDataFrame([(1, 2, 3, 4)], "lex_n long, sem_n long, tot_n long, qual_n long")
    export_release(perdoc, ledger, at("release"))
    export_packed_release(spark, perdoc, at("packed"))
    export_mixture(spark, docs, at("mixture"))


def test_recorded_schema_read_equals_inferring_read_for_every_leaf_kind(
    spark, sf_dir, tmp_path
):
    """Every leaf that each maintainer and exporter writes reads the same
    through its recorded schema as by inference, the exporters' partitioned
    data leaves included."""
    root = str(tmp_path / "state")
    _every_leaf_kind(spark, sf_dir, root)
    leaves = {}
    for d, _, files in os.walk(root):
        if SCHEMA in files:
            leaves.setdefault(os.path.relpath(d, root).split(os.sep)[0], []).append(d)
    assert sorted(leaves) == sorted(os.listdir(root)), "a kind wrote no recorded leaf"
    for d in sum(leaves.values(), []):
        _same_read(spark, d, read_parquet(spark, d))
    partitioned = [d for d in leaves["release"] + leaves["mixture"] if d.endswith("data")]
    assert len(partitioned) == 2, partitioned


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_memoized_load_table_equals_inferring_read(spark, sf_dir, name):
    """load_table's memoized schema gives the same frame as an inferring
    read normalized the same way, on every table of the sf0.01 fixtures."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    load_table(spark, sf, name)  # the first read infers and memoizes
    memo, n_jobs = _jobs(spark, lambda: load_table(spark, sf, name))
    assert n_jobs == 0
    inferred = spark.read.parquet(os.path.join(sf, f"{name}.parquet"))
    declared = CANONICAL_SCHEMAS.get(name)
    if declared:
        inferred = _normalize_table(inferred, declared)
    assert memo.schema == inferred.schema
    assert memo.count() == inferred.count()
    assert memo.exceptAll(inferred).isEmpty() and inferred.exceptAll(memo).isEmpty()
