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
