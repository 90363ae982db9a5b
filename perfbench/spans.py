"""Spans recorded from the benchmark's own files, plus Spark's event log.

A span is (id, parent, layer, name, op, start, end) in wall-clock ms. The
benchmark opens spans around its calls into the program (one per op, one
per query build / execute phase, one per maintainer update / read) and,
in a traced run, around the public operator functions the queries call
(``wrap_operators``). Spans stay in memory and are written once at the
end. Spark jobs are tied to spans by submission time: ops run one at a
time from one client, so the innermost span open when a job was submitted
is the one that launched it; this also covers jobs submitted from driver
threads, which do not inherit the job group the benchmark sets.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# public operator functions whose self time and jobs the traced run reports
OPERATORS = {
    "operators.dedup": ("ngram_jaccard_pairs",),
    "operators.graph": ("connected_components", "dedup_clusters"),
    "operators.serving": ("cluster_split_assign", "postings_frame", "bm25_readout"),
}
OPERATOR_FNS = tuple(fn for fns in OPERATORS.values() for fn in fns)


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    op: str | None
    pass_no: int | None
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: str | None = None
        self.pass_no: int | None = None

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, layer, name, self.op, self.pass_no, time.time() * 1000, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000
            self._stack.pop()

    def wrap_operators(self, pkg: str) -> None:
        """Replace each public operator function listed in OPERATORS with a
        span-recording wrapper, wherever the program's modules bound it."""
        import importlib
        import pkgutil

        root = importlib.import_module(pkg)
        for info in pkgutil.walk_packages(root.__path__, f"{pkg}."):
            importlib.import_module(info.name)
        for mod_name, fns in OPERATORS.items():
            mod = sys.modules[f"{pkg}.{mod_name}"]
            for fn_name in fns:
                orig = getattr(mod, fn_name)
                wrapped = self._wrapper(orig, fn_name)
                for m in [m for k, m in sys.modules.items() if k.startswith(pkg) and m]:
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapped)

    def _wrapper(self, orig, name):
        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with self.span("operators", name):
                return orig(*a, **kw)

        return wrapped

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, fh)


# --------------------------------------------------------------------------
# Spark event log


@dataclass
class Job:
    id: int
    submit_ms: float
    group: str | None
    stages: list[int]
    span: int | None = None  # innermost span open at submission


@dataclass
class Stage:
    id: int
    submit_ms: float = 0.0
    done_ms: float = 0.0
    task_ms: list[float] = field(default_factory=list)
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_b: float = 0.0
    shuffle_read_b: float = 0.0
    shuffle_write_recs: float = 0.0
    shuffle_read_recs: float = 0.0
    spill_b: float = 0.0


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, Stage]]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one Spark event log in {log_dir}, found {files}")
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    Job(ev["Job ID"], ev["Submission Time"], props.get("spark.jobGroup.id"), ev["Stage IDs"])
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.submit_ms = info.get("Submission Time", 0)
                st.done_ms = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_write_recs += sw.get("Shuffle Records Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_read_recs += sr.get("Total Records Read", 0)
    return jobs, stages


def attach_jobs(spans: list[Span], jobs: list[Job]) -> None:
    """Tie each job to the innermost span open at its submission time (spans
    of one thread nest, so that is the open span that started last)."""
    for job in jobs:
        open_ = [s for s in spans if s.start_ms <= job.submit_ms <= s.end_ms]
        job.span = max(open_, key=lambda s: s.start_ms).id if open_ else None


def descendants(spans: list[Span]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    return kids


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
