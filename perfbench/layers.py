"""The traced run: per-layer metrics from spans and Spark's event log.

Counted warm passes alternate between tracing on and off (at least one
of each), so ``trace.overhead_ratio`` compares passes of the same process. Spark's
event log is on for the whole traced run: it can only be set when the
session starts, so its own cost is in both kinds of pass. After the
passes, untimed probes measure the input scans (``sources``) and the
pure-Python replay of the MR apps (``apps``). Per-layer metrics are
medians over the traced warm passes; every ``plans.*`` metric is a
workload total per pass. The span file (``.perfbench/trace/``) keeps the
per-op detail: each span with its jobs, stages, tasks and shuffle bytes.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

import spans as sp
from workloads import PKG, sequential_mr

PROBE_REPS = 3
MB = 2**20


def event_log_conf(work: str) -> dict[str, str]:
    log_dir = os.path.join(work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def alternate_tracing(tracer, warmup_passes: int):
    """A ``before_pass`` hook: tracing on for every other counted pass."""

    def before_pass(i: int) -> None:
        tracer.enabled = i >= warmup_passes and (i - warmup_passes) % 2 == 0

    return before_pass


class TracedRun:
    """The per-layer report over the counted warm passes of a traced run;
    creating it runs the untimed ``sources`` and ``apps`` probes."""

    def __init__(self, runner, passes: list[dict]):
        self.r = runner
        self.w = runner.w
        self.passes = passes
        self.probes: dict[str, float] = {}
        self._probe_sources()
        self._probe_apps()

    def _probe_sources(self) -> None:
        inputs = self.w.scan_inputs()
        secs = [sum(_timed(lambda df=df: df().write.format("noop").mode("overwrite").save()) for _, df, _ in inputs)
                for _ in range(PROBE_REPS)]
        self.probes["sources.scan_s"] = statistics.median(secs)
        self.probes["sources.scan_mb"] = sum(b for _, _, b in inputs) / MB

    def _probe_apps(self) -> None:
        secs = [sum(_timed(lambda a=a: sequential_mr(a, self.w.mr_input(a))) for a in self.w.mr_apps)
                for _ in range(PROBE_REPS)]
        self.probes["apps.udf_s"] = statistics.median(secs)

    # -- metrics -----------------------------------------------------------
    def metrics(self, setup: dict, log_dir: str, span_path: str) -> dict:
        jobs, stages = sp.read_event_log(log_dir)
        spans = self.r.tracer.spans
        sp.attach_jobs(spans, jobs)
        # a stage runs in the first job that lists it; later jobs skip it
        stage_job: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j.id):
            for s in j.stages:
                stage_job.setdefault(s, j.id)
        job_stages: dict[int, list] = {}
        for s, j in stage_job.items():
            if s in stages and stages[s].task_ms:
                job_stages.setdefault(j, []).append(stages[s])
        kids = sp.descendants(spans)
        jobs_at: dict[int, list[int]] = {}
        for j in jobs:
            if j.span is not None:
                jobs_at.setdefault(j.span, []).append(j.id)

        def subtree(s) -> list:
            out, todo = [], [s.id]
            while todo:
                i = todo.pop()
                out.append(i)
                todo.extend(kids.get(i, ()))
            return out

        def jobs_under(s) -> list[int]:
            return [j for i in subtree(s) for j in jobs_at.get(i, ())]

        def stages_of(job_ids) -> list:
            return [st for j in job_ids for st in job_stages.get(j, ())]

        dur = lambda s: (s.end_ms - s.start_ms) / 1000  # noqa: E731
        for s in spans:
            s.attrs["jobs"] = jobs_at.get(s.id, [])
        per_pass = []
        traced = [p for p in self.passes if p["traced"]]
        for p in traced:
            ps = [s for s in spans if s.pass_no == p["pass_no"]]
            ops = [s for s in ps if s.layer == "op"]
            q_ops = [s for s in ops if s.attrs["kind"] == "query"]
            q_jobs = [j for s in q_ops for j in jobs_under(s)]
            q_st = stages_of(q_jobs)
            builds = [s for s in ps if s.layer == "plans" and s.name == "build"]
            q_wall = sum(dur(s) for s in q_ops)
            run_s = sum(st.run_ms for st in q_st) / 1000
            m = {
                "plans.build_s": sum(dur(s) for s in builds),
                "plans.execute_s": sum(dur(s) for s in ps if s.layer == "plans" and s.name == "execute"),
                "plans.jobs": len(q_jobs),
                "plans.build_jobs": sum(len(jobs_under(s)) for s in builds),
                "plans.stages": len(q_st),
                "plans.tasks": sum(len(st.task_ms) for st in q_st),
                "plans.shuffle_write_mb": sum(st.shuffle_write_b for st in q_st) / MB,
                "plans.shuffle_read_mb": sum(st.shuffle_read_b for st in q_st) / MB,
                "plans.spill_mb": sum(st.spill_b for st in q_st) / MB,
                "plans.executor_run_s": run_s,
                "plans.executor_cpu_s": sum(st.cpu_ns for st in q_st) / 1e9,
                "plans.gc_s": sum(st.gc_ms for st in q_st) / 1000,
                "plans.slot_busy_share": run_s / (q_wall * self.r.cpus) if q_wall else 0.0,
                "plans.task_skew": sp.median(_skew(stages_of(jobs_under(s))) for s in q_ops),
            }
            for fn in sp.OPERATOR_FNS:
                os_ = [s for s in ps if s.layer == "operators" and s.name == fn]
                m[f"operators.{fn}.self_s"] = sum(
                    dur(s) - sum(dur(spans[k]) for k in kids.get(s.id, ())) for s in os_
                )
                m[f"operators.{fn}.jobs"] = sum(len(jobs_at.get(s.id, ())) for s in os_)
            mr_ops = [s for s in ops if s.attrs["kind"] == "mr"]
            mr_st = stages_of(j for s in mr_ops for j in jobs_under(s))
            mr_map = [st for st in mr_st if st.shuffle_write_b]
            udf = self.probes["apps.udf_s"]
            m |= {
                "mr.map_stage_s": sum(st.done_ms - st.submit_ms for st in mr_map) / 1000,
                "mr.reduce_stage_s": sum(st.done_ms - st.submit_ms for st in mr_st if st.shuffle_read_b) / 1000,
                "mr.shuffle_records": sum(st.shuffle_write_recs for st in mr_map),
                "mr.shuffle_write_mb": sum(st.shuffle_write_b for st in mr_map) / MB,
                "mr.overhead_ratio": sum(dur(s) for s in mr_ops) / udf if udf else 0.0,
            }
            ups = [s for s in ps if s.layer == "streaming" and s.name.endswith(".update")]
            added = sum(s.attrs["bytes_added"] for s in ups)
            m |= {
                "streaming.update_s": sp.median(dur(s) for s in ups),
                "streaming.update_jobs": sp.median(len(jobs_under(s)) for s in ups),
                "streaming.files_per_commit": sp.median(s.attrs["files_added"] for s in ups),
                "streaming.write_amplification": added / sum(s.attrs["input_bytes"] for s in ups),
                "streaming.late_vs_early": dur(ups[-1]) / dur(ups[0]),
                "streaming.compact_s": sum(dur(s) for s in ps if s.name.endswith(".compact")),
                "streaming.read_s": sp.median(dur(s) for s in ps if s.name.endswith(".read")),
                "streaming.state_mb": p["state_mb"],
                "process.peak_rss_mb": p["rss_mb"],
            }
            per_pass.append(m)
        values = {k: sp.median(m[k] for m in per_pass) for k in per_pass[0]}
        zips = glob.glob(os.path.join(os.environ["TMPDIR"], f"{PKG}_*.zip"))
        scan_s = self.probes["sources.scan_s"]
        values |= {
            "session.get_spark_s": setup["get_spark_s"],
            "shipping.ensure_shipped_s": setup["ensure_shipped_s"],
            "shipping.zip_kb": os.path.getsize(max(zips, key=os.path.getmtime)) / 1024,
            "sources.scan_s": scan_s,
            "sources.scan_mb_per_s": self.probes["sources.scan_mb"] / scan_s,
            "apps.udf_s": self.probes["apps.udf_s"],
            "trace.overhead_ratio": sp.median(p["wall_s"] for p in traced)
            / sp.median(p["wall_s"] for p in self.passes if not p["traced"]),
        }
        self.r.tracer.write(span_path, {"passes": self.passes, "probes": self.probes, "metrics": values})
        return {k: {"value": float(v), "unit": unit_of(k)} for k, v in sorted(values.items())}


def _skew(stages) -> float:
    """max / median task time in the longest-running stage."""
    if not stages:
        return 1.0
    st = max(stages, key=lambda st: st.done_ms - st.submit_ms)
    med = statistics.median(st.task_ms)
    return max(st.task_ms) / med if med else 1.0


def unit_of(name: str) -> str:
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_kb"):
        return "KB"
    if name.endswith(("_ratio", "_share", "_skew", "amplification", "late_vs_early")):
        return "ratio"
    return "count"
