"""Versioned state directories (statedir.py): crash injection on both
layouts, the shared vacuum(keep) meaning, and a structural pin that no
other module hand-rolls a pointer commit.

Each crash case runs on the full-state layout (a RollupMaintainer whose
state is the union of its edge batches, one v{N} per batch) and on the
delta-chain layout (TriangleMaintainer, batches/b{N} plus a compacted
baseline), through the public maintainer API; the on-disk damage is made by
hand, the way a crash would leave it."""

from __future__ import annotations

import ast
import os

import pytest

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


def _ingest(spark, m, upto):
    for b in range(upto):
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
