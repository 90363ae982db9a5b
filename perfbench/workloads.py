"""The two workloads: each a fixed schedule of ops plus one check per op.

An op is one query, one ``mr_run``, one maintainer ``update``, one served
read or one state compaction. ``run(collect)`` executes it: with
``collect=True`` (the cold pass) the result rows come back to the driver
for the check; otherwise the result is written to Spark's ``noop`` sink.
``check(result)`` runs outside timing and returns an error message or
None.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import pandas as pd

PKG = "mapreduce_paper_implementation_spark"

# the declarative twins of the wc and credit apps
MANIFEST = ("q01_wordcount", "q03_credit")
NEARDUP = ("q41_dedup_clusters",)
MR_APPS = ("wc", "indexer", "credit")
STREAM_BATCHES = 2  # maintainer updates per pass, each followed by a read
PAIR_THRESH = 0.1  # q20 / q41 Jaccard threshold


@dataclass
class Op:
    name: str
    kind: str  # query | mr | update | read | compact
    run: Callable[[bool], object]
    check: Callable[[object], str | None] = lambda _result: None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rows(df) -> pd.DataFrame:
    return pd.DataFrame([tuple(r) for r in df.collect()], columns=df.columns)


def _same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    from mapreduce_paper_implementation_spark.testing.compare import canonize

    gc, gv = canonize(got)
    wc, wv = canonize(want)
    if gc != wc:
        return f"columns differ: {gc} vs {wc}"
    if gv != wv:
        return f"{len(gv)} vs {len(wv)} rows, first diff {next(((a, b) for a, b in zip(gv, wv) if a != b), None)}"
    return None


class Workload:
    """Shared plumbing: the Spark session, the tracer and the seed's inputs."""

    def __init__(self, spark, tracer, data_root: str, state_root: str):
        self.spark = spark
        self.tracer = tracer
        self.data_root = data_root
        self.ds = os.path.join(data_root, "sf0.1")
        self.state_root = state_root
        # reduce partitions = shuffle partitions = one per core (session.py)
        self.n_reduce = int(os.environ["SPARK_GRAFT_CPUS"])
        self.ops: list[Op] = []

    mr_apps: tuple[str, ...] = ()

    def reset_state(self) -> None:
        shutil.rmtree(self.state_root, ignore_errors=True)
        os.makedirs(self.state_root)

    # -- query ops ---------------------------------------------------------
    def query_op(self, name: str, check) -> Op:
        from mapreduce_paper_implementation_spark.plans.queries import QUERIES

        def run(collect: bool):
            with self.tracer.span("plans", "build"):
                df = QUERIES[name](self.spark, self.ds)
            with self.tracer.span("plans", "execute"):
                return _rows(df) if collect else _noop(df)

        return Op(name, "query", run, check)

    def oracle_check(self, name: str):
        def check(got: pd.DataFrame) -> str | None:
            from mapreduce_paper_implementation_spark.plans.queries import ORACLES
            from mapreduce_paper_implementation_spark.sources.credit_fixture import credit_paths

            # oracles name the credit fixture by absolute path; point it at
            # this checkout's copy for the dataset's scale
            sql = re.sub(
                r"'[^']*/fixtures/credit/[^/']+/credit_scores\.parquet'",
                f"'{credit_paths(self.ds)[0]}'",
                ORACLES[name],
            )
            con = duckdb.connect()
            for f in os.listdir(self.ds):
                if f.endswith(".parquet"):
                    path = os.path.join(self.ds, f)
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
            try:
                return _same_rows(got, con.execute(sql).df())
            finally:
                con.close()

        return check


class MrManifest(Workload):
    """Scan class: the paper's three apps through ``mr.mr_run``, the
    declarative twins of wc and credit from the declared manifest, and the
    incremental inverted index (``postings_maintainer``) served through
    ``bm25_view``."""

    def __init__(self, *a):
        super().__init__(*a)
        self.ops = [self.mr_op(app) for app in MR_APPS]
        self.ops += [self.query_op(q, self.oracle_check(q)) for q in MANIFEST]
        self.ops += stream_ops(self, "postings", self.postings_update, self.bm25_read, self.bm25_check)

    mr_apps = MR_APPS

    def scan_inputs(self):
        from mapreduce_paper_implementation_spark.plans.queries import read_credit_csv
        from mapreduce_paper_implementation_spark.sources.credit_fixture import credit_paths
        from mapreduce_paper_implementation_spark.sources.tables import load_table

        csv = credit_paths(self.ds)[1]
        return [
            ("documents", lambda: load_table(self.spark, self.ds, "documents"), table_bytes(self.ds, "documents")),
            ("credit_csv", lambda: read_credit_csv(self.spark, csv), os.path.getsize(csv)),
        ]

    def batch_bytes(self, b: int) -> int:
        return dir_bytes(batch_dir(self.data_root, b))

    def mr_input(self, app: str) -> str:
        return os.path.join(self.data_root, "mr_credit" if app == "credit" else "mr_text")

    def mr_op(self, app: str) -> Op:
        from mapreduce_paper_implementation_spark import apps, mr

        mapf, reducef = apps.APPS[app]
        glob_ = os.path.join(self.mr_input(app), "*")

        def run(collect: bool):
            with self.tracer.span("mr", app):
                df = mr.mr_run(self.spark, mapf, reducef, glob_, n_reduce=self.n_reduce)
                return _rows(df) if collect else _noop(df)

        def check(got: pd.DataFrame) -> str | None:
            want = sequential_mr(app, self.mr_input(app))
            have = dict(zip(got["key"], got["value"]))
            if len(have) != len(got):
                return "duplicate keys in mr_run output"
            return None if have == want else f"{app}: {len(have)} keys vs {len(want)} from the sequential replay"

        return Op(f"mr_{app}", "mr", run, check)

    def postings_update(self, b: int):
        from mapreduce_paper_implementation_spark.streaming.rollup import postings_maintainer
        from mapreduce_paper_implementation_spark.sources.tables import load_table

        m = postings_maintainer(self.spark, os.path.join(self.state_root, "postings"))
        m.update(load_table(self.spark, batch_dir(self.data_root, b), "documents"), b)
        return m

    def bm25_read(self, collect: bool):
        from mapreduce_paper_implementation_spark.streaming.rollup import bm25_view, postings_maintainer

        m = postings_maintainer(self.spark, os.path.join(self.state_root, "postings"))
        df = bm25_view(m.current_state())
        return _rows(df) if collect else _noop(df)

    def bm25_check(self, b: int, got: pd.DataFrame) -> str | None:
        from mapreduce_paper_implementation_spark.plans.queries import QUERIES

        want = _rows(QUERIES["q111_bm25_topk"](self.spark, upto_dir(self.data_root, b)))
        return _same_rows(got, want)

    def vacuum(self) -> None:
        from mapreduce_paper_implementation_spark.streaming.rollup import postings_maintainer

        postings_maintainer(self.spark, os.path.join(self.state_root, "postings")).vacuum()


class NeardupRelease(Workload):
    """Shuffle class: q41 (n-gram pair self-join, then connected-component
    label rounds) over planted-truth documents, and the incremental
    component index (``ComponentsMaintainer``) served through
    ``cluster_split_view``, q124's leakage-safe split."""

    def __init__(self, *a):
        super().__init__(*a)
        with open(os.path.join(self.ds, "truth.json")) as fh:
            self.truth = json.load(fh)
        self.ops = [self.query_op("q41_dedup_clusters", self.check_q41)]
        self.ops += stream_ops(self, "components", self.cc_update, self.split_read, self.split_check)

    def scan_inputs(self):
        from mapreduce_paper_implementation_spark.sources.tables import load_table

        return [("documents", lambda: load_table(self.spark, self.ds, "documents"), table_bytes(self.ds, "documents"))]

    def batch_bytes(self, b: int) -> int:
        return os.path.getsize(edge_path(self.data_root, b))

    def check_q41(self, got: pd.DataFrame) -> str | None:
        eps = self.truth["eps"]
        pos = [(a, b) for a, b, j in self.truth["doc_pairs"] if j >= PAIR_THRESH + eps]
        want = {frozenset(c) for c in components(pos).values()}
        have = {frozenset(int(x) for x in m.split(",")) for m in got["members"]}
        return None if have == want else f"q41: {len(have ^ want)} clusters differ from the planted truth"

    def cc_update(self, b: int):
        from mapreduce_paper_implementation_spark.streaming.cc_index import ComponentsMaintainer

        m = ComponentsMaintainer(self.spark, os.path.join(self.state_root, "components"))
        m.update(self.spark.read.parquet(edge_path(self.data_root, b)), b)
        return m

    def split_read(self, collect: bool):
        from mapreduce_paper_implementation_spark.streaming.cc_index import (
            ComponentsMaintainer,
            cluster_split_view,
        )
        from mapreduce_paper_implementation_spark.sources.tables import load_table

        m = ComponentsMaintainer(self.spark, os.path.join(self.state_root, "components"))
        df = cluster_split_view(m.labels(), load_table(self.spark, self.ds, "documents"))
        return _rows(df) if collect else _noop(df)

    def split_check(self, b: int, got: pd.DataFrame) -> str | None:
        from mapreduce_paper_implementation_spark.operators.graph import connected_components
        from mapreduce_paper_implementation_spark.operators.serving import cluster_split_assign
        from mapreduce_paper_implementation_spark.sources.tables import load_table

        edges = self.spark.read.parquet(*[edge_path(self.data_root, i) for i in range(b + 1)])
        want = _rows(
            cluster_split_assign(load_table(self.spark, self.ds, "documents"), connected_components(edges))
        )
        return _same_rows(got, want)

    def vacuum(self) -> None:
        from mapreduce_paper_implementation_spark.streaming.cc_index import ComponentsMaintainer

        ComponentsMaintainer(self.spark, os.path.join(self.state_root, "components")).vacuum()


WORKLOADS = {"mr-manifest": MrManifest, "neardup-release": NeardupRelease}


def stream_ops(w: Workload, maintainer: str, update, read, read_check) -> list[Op]:
    """STREAM_BATCHES x (update, served read), then one compaction: the
    fixed cadence. Each pass starts from empty state (``reset_state``)."""
    ops = []
    state = os.path.join(w.state_root, maintainer)
    for b in range(STREAM_BATCHES):
        def run_update(collect: bool, b=b):
            if w.tracer.enabled:
                files0, bytes0 = dir_files(state), dir_bytes(state)
            with w.tracer.span("streaming", f"{maintainer}.update", batch=b) as s:
                m = update(b)
            if s is not None:
                s.attrs.update(
                    files_added=dir_files(state) - files0,
                    bytes_added=dir_bytes(state) - bytes0,
                    input_bytes=w.batch_bytes(b),
                )
            return m is not None

        def run_read(collect: bool):
            with w.tracer.span("streaming", f"{maintainer}.read"):
                return read(collect)

        ops.append(Op(f"{maintainer}.update[b{b}]", "update", run_update))
        ops.append(Op(f"{maintainer}.read[b{b}]", "read", run_read, lambda got, b=b: read_check(b, got)))

    def run_compact(collect: bool):
        with w.tracer.span("streaming", f"{maintainer}.compact"):
            w.vacuum()

    ops.append(Op(f"{maintainer}.compact", "compact", run_compact))
    return ops


# --------------------------------------------------------------------------
# inputs derived per seed (written by data.prepare) and reference replays


def batch_dir(root: str, b: int) -> str:
    return os.path.join(root, "stream", f"b{b}")


def upto_dir(root: str, b: int) -> str:
    return os.path.join(root, "stream", f"upto{b}")


def edge_path(root: str, b: int) -> str:
    return os.path.join(root, "stream", f"edges{b}.parquet")


def table_bytes(ds: str, table: str) -> int:
    return os.path.getsize(os.path.join(ds, f"{table}.parquet"))


def dir_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def components(pairs) -> dict[int, set]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    comps: dict[int, set] = {}
    for x in list(parent):
        comps.setdefault(find(x), set()).add(x)
    return comps


def sequential_mr(app: str, input_dir: str) -> dict[str, str]:
    """The mrsequential replay: the app's mapf/reducef in plain Python, one
    file at a time, no Spark."""
    from mapreduce_paper_implementation_spark import apps

    mapf, reducef = apps.APPS[app]
    groups: dict[str, list[str]] = {}
    for name in sorted(os.listdir(input_dir)):
        with open(os.path.join(input_dir, name), newline="") as fh:
            for k, v in mapf(name, fh.read()):
                groups.setdefault(k, []).append(v)
    return {k: reducef(k, vs) for k, vs in groups.items()}
