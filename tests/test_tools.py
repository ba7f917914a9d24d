"""Command-line contracts of the developer tools under ``tools/``."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize(
    "argv",
    [
        [],
        ["r998"],
        ["r998", "after"],
        ["998", "after", "flagship_corpus_rollup"],
        ["r998", "during", "flagship_corpus_rollup"],
    ],
    ids=["no-args", "no-tag", "no-names", "bad-round", "bad-tag"],
)
def test_dump_plan_round_rejects_bad_args(argv):
    """A malformed call prints the usage and exits non-zero before any
    Spark start, leaving no plans/<round> directory behind."""
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "dump_plan_round.py"), *argv],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 1
    assert out.stderr.startswith("usage: python tools/dump_plan_round.py")
    assert not (ROOT / "plans" / "r998").exists()


def test_bench_streaming_drain_times_the_shared_drain(monkeypatch, tmp_path):
    """``bench_streaming._drain`` drains through
    ``run_available_now_to_memory`` (one checkpoint per job under the
    run's root, the bench's timeout) and returns the seconds it took."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_streaming", ROOT / "tools" / "bench_streaming.py"
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    calls = []

    def fake_drain(stream, transform, name, ckpt, **kw):
        calls.append((stream, transform, name, ckpt, kw))

    monkeypatch.setattr(bench, "run_available_now_to_memory", fake_drain)
    secs = bench._drain("stream", "transform", "update", "sliding_agg", str(tmp_path))
    assert calls == [
        (
            "stream",
            "transform",
            "sliding_agg",
            str(tmp_path / "sliding_agg"),
            {"output_mode": "update", "timeout_sec": bench.DRAIN_TIMEOUT_S},
        )
    ]
    assert isinstance(secs, float) and secs >= 0


def test_bench_warm_up_records_a_failure_and_runs_the_rest(capsys):
    """``bench.warm_up`` reports a raising query as ``{name, error}``
    plus one stderr line, and still runs every query after it."""
    from types import SimpleNamespace

    import bench

    ran = []

    def builder(name):
        result = SimpleNamespace(count=lambda: ran.append(name))
        return SimpleNamespace(fn=lambda spark, sf_dir: result)

    def broken(spark, sf_dir):
        raise RuntimeError("no such table\nsecond line")

    queries = {"a": builder("a"), "b": SimpleNamespace(fn=broken), "c": builder("c")}
    failures = bench.warm_up(object(), ["a", "b", "c"], "/nowhere", queries)

    assert failures == [{"name": "b", "error": "RuntimeError: no such table"}]
    assert ran == ["a", "c"]
    assert capsys.readouterr().err == "bench: warmup b failed: RuntimeError: no such table\n"


def test_bench_run_passes_records_failures_and_times_the_rest(monkeypatch, capsys):
    """``bench.run_passes`` reports a query that raises by name, pass and
    phase (``build`` or ``execute``, one stderr line each), leaves it out
    of that pass's timings, and still times every other query in every
    pass, with ``drop_blocks`` after each query."""
    from types import SimpleNamespace

    import bench

    dropped = []
    monkeypatch.setattr(bench, "drop_blocks", lambda spark: dropped.append(1))
    built = []

    def builder(name):
        result = SimpleNamespace(count=lambda: None)
        return SimpleNamespace(fn=lambda spark, sf_dir: built.append(name) or result)

    def bad_build(spark, sf_dir):
        raise RuntimeError("no such table\nsecond line")

    def bad_count():
        raise ValueError("boom")

    queries = {
        "a": builder("a"),
        "b": SimpleNamespace(fn=lambda spark, sf_dir: SimpleNamespace(count=bad_count)),
        "c": SimpleNamespace(fn=bad_build),
        "d": builder("d"),
    }
    passes, loads, _, failures = bench.run_passes(
        object(), ["a", "b", "c", "d"], "/nowhere", 2, queries
    )

    assert failures == [
        {"name": "b", "pass": 0, "phase": "execute", "error": "ValueError: boom"},
        {"name": "c", "pass": 0, "phase": "build", "error": "RuntimeError: no such table"},
        {"name": "b", "pass": 1, "phase": "execute", "error": "ValueError: boom"},
        {"name": "c", "pass": 1, "phase": "build", "error": "RuntimeError: no such table"},
    ]
    assert [sorted(p) for p in passes] == [["a", "d"], ["a", "d"]]
    assert built == ["a", "d", "a", "d"]
    assert len(loads) == 2
    assert len(dropped) == 8
    assert capsys.readouterr().err.splitlines()[:2] == [
        "bench: pass 0 b failed in execute: ValueError: boom",
        "bench: pass 0 c failed in build: RuntimeError: no such table",
    ]


def test_bench_rejects_an_unknown_name_before_spark_starts():
    """``bench.py NAME`` with a name the registry lacks exits non-zero
    with one stderr line, before any Spark start, and leaves the
    committed ``BENCH_DETAIL.json`` as it was."""
    detail = ROOT / "BENCH_DETAIL.json"
    before = detail.read_bytes()
    out = subprocess.run(
        [sys.executable, str(ROOT / "bench.py"), "no_such_query"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 1
    assert out.stderr == "bench: unknown queries: no_such_query\n"
    assert out.stdout == ""
    assert detail.read_bytes() == before


def test_profile_query_fills_the_tracer_layers(spark, sf_dir, monkeypatch):
    """``profile_query.profile`` returns perfbench's traced record for one
    query: the action's jobs are attributed to it and its build time is
    part of its wall time."""
    import importlib.util

    monkeypatch.setattr(sys, "path", list(sys.path))  # the tool adds perfbench/
    spec = importlib.util.spec_from_file_location(
        "profile_query", ROOT / "tools" / "profile_query.py"
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    rec = tool.profile(spark, "p4_filter_project", sf_dir)

    layers = rec["layers"]
    assert layers["sched.jobs"] >= 1
    assert 0 <= layers["plans.build_s"] <= rec["wall_s"]
    assert rec["rows"] >= 0
