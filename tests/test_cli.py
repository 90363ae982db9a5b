"""CLI parity tests: the reference's three entry points
(mrsequential / mrcoordinator+mrworker, /root/reference/mr-main/) mapped to
`python -m mapreduce_paper_implementation_spark {sequential,run,query,list}`.
The session is injected so the suite shares one JVM."""

from __future__ import annotations

import os
from collections import Counter

from mapreduce_paper_implementation_spark.__main__ import main


def _write_corpus(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("the quick brown fox the")
    (d / "b.txt").write_text("quick quick lazy dog")
    return str(d)


def test_cli_sequential_wc(spark, tmp_path):
    corpus = _write_corpus(tmp_path)
    out = str(tmp_path / "seq")
    assert main(["sequential", "wc", corpus, "-o", out], spark=spark) == 0
    lines = open(os.path.join(out, "mr-out-0")).read().splitlines()
    got = dict(line.split(" ", 1) for line in lines)
    assert got == {"brown": "1", "dog": "1", "fox": "1", "lazy": "1", "quick": "3", "the": "2"}
    assert lines == sorted(lines)  # mrsequential output is globally sorted


def test_cli_run_partitioned_wc(spark, tmp_path):
    corpus = _write_corpus(tmp_path)
    out = str(tmp_path / "dist")
    assert main(["run", "wc", corpus, "-o", out, "--n-reduce", "4"], spark=spark) == 0
    # correctness on the sorted union of all part files (test-mr.sh:58)
    union = []
    for f in sorted(os.listdir(out)):
        if f.startswith("part-"):
            union += open(os.path.join(out, f)).read().splitlines()
    counts = Counter(dict(line.split(" ", 1) for line in union))
    assert dict(counts) == {
        "brown": "1", "dog": "1", "fox": "1", "lazy": "1", "quick": "3", "the": "2"
    }


def test_cli_list_and_query(spark, sf_dir, capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "wc" in out and "q01_wordcount  [oracle]" in out

    assert main(["query", "q05_event_counts", "--sf-dir", sf_dir], spark=spark) == 0
    out = capsys.readouterr().out
    assert "event_type" in out

    assert main(["query", "nonexistent", "--sf-dir", sf_dir], spark=spark) == 2


def test_cli_explain(spark, sf_dir, capsys):
    assert main(["explain", "q06_filtered_agg", "--sf-dir", sf_dir], spark=spark) == 0
    out = capsys.readouterr().out
    assert "PushedFilters" in out  # formatted plan shows scan pushdown
    assert main(["explain", "nonexistent", "--sf-dir", sf_dir], spark=spark) == 2


def test_cli_builds_its_session_through_get_spark(monkeypatch, tmp_path):
    """Without an injected session the CLI takes the engine's session
    (UTC timezone, AQE, Arrow) from session.get_spark on local[--local],
    and stops it afterwards. get_spark is replaced so the shared test
    session is neither reconfigured nor stopped."""
    import mapreduce_paper_implementation_spark.__main__ as cli
    from mapreduce_paper_implementation_spark import session, shipping

    seen = {}

    class FakeSession:
        def stop(self):
            seen["stopped"] = True

    fake = FakeSession()

    def fake_get_spark(**kwargs):
        seen["kwargs"] = kwargs
        return fake

    def fake_cmd(args, spark):
        seen["ran_with"] = spark
        return 0

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    monkeypatch.setattr(shipping, "ensure_shipped", lambda spark: None)
    monkeypatch.setattr(cli, "cmd_query", fake_cmd)
    assert main(["--local", "3", "query", "q01_wordcount", "--sf-dir", str(tmp_path)]) == 0
    assert seen == {"kwargs": {"master": "local[3]"}, "ran_with": fake, "stopped": True}


def test_core_count_defaults_to_this_process_cores(monkeypatch):
    from mapreduce_paper_implementation_spark.session import core_count

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert core_count() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert core_count() == 3
