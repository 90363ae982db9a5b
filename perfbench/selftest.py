#!/usr/bin/env python3
"""Self-test of the benchmark harness (about 2 minutes on 4 cores).

    python3 perfbench/selftest.py

Checks, with the shortest measuring window:
- an untraced run prints every end-to-end metric of BENCHMARK.json with
  its unit, and an injected failing op makes ``failed`` (so
  ``failed_op_share``) non-zero and the exit code non-zero;
- a traced run prints every per-layer metric with its unit, exits 0 and
  writes its span file;
- in a directory holding only BENCHMARK.json and the benchmark, the
  command exits non-zero without printing a result;
- in a git checkout, the runs leave ``git status --porcelain`` unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    lines = out.stdout.strip().splitlines()
    try:
        return out.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return out.returncode, None


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def same_units(result: dict, declared: list[dict]) -> bool:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return got == {m["name"]: m["unit"] for m in declared}


def git_status() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    return subprocess.run(
        ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    before = git_status()

    rc, res = bench("--workload", "mr-manifest", "--seed", "1", "--trace", "0", "--inject-failure")
    expect(res is not None and same_units(res, spec["end_to_end"]), "end-to-end metrics print with their units")
    expect(res["failed"] >= 1 and not res["correct"], "an injected failing op is counted")
    expect(rc != 0, "an injected failing op makes the exit code non-zero")

    span_file = os.path.join(ROOT, ".perfbench", "trace", "neardup-release-s1.json")
    if os.path.exists(span_file):
        os.remove(span_file)
    rc, res = bench("--workload", "neardup-release", "--seed", "1", "--trace", "1")
    expect(rc == 0 and res is not None and res["correct"] and res["failed"] == 0, "a traced run passes its checks")
    expect(same_units(res, spec["per_layer"]), "per-layer metrics print with their units")
    with open(span_file) as fh:
        expect(len(json.load(fh)["spans"]) > 0, "the traced run writes its span file")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res = bench("--workload", "mr-manifest", "--seed", "1", "--trace", "0", cwd=bare)
    shutil.rmtree(bare)
    expect(rc != 0 and res is None, "without the program the command fails and prints no result")

    after = git_status()
    expect(before == after, "the runs leave git status unchanged")
    return 0


if __name__ == "__main__":
    sys.exit(main())
