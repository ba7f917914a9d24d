#!/usr/bin/env python3
"""Self-tests of the benchmark.  Run from the repository root:

    python3 perfbench/selftest.py

1. Smoke: every workload for one round at sf0.001, untraced and traced;
   each result line must be complete, correct, and name every metric that
   ``BENCHMARK.json`` lists for its mode.
2. Broken query: a query made to fail (in build, in execution, or with a
   wrong count) still yields a complete result line, with ``failed > 0``
   and ``error_rate > 0`` in the detail file.
3. No engine: in a directory holding only ``BENCHMARK.json`` and
   ``perfbench/``, the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench", "selftest")

sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def _bench(*args: str, cwd: str = ROOT, detail: str | None = None):
    cmd = [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args]
    if detail:
        cmd += ["--detail", detail]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
    assert out["attempted"] >= 1
    return out


def test_smoke(spec: dict) -> None:
    for name in WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            out = _result(_bench("--workload", name, "--trace", str(trace), "--smoke"))
            assert out["correct"] and out["failed"] == 0, (name, trace, out)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, (name, trace, sorted(set(got) ^ set(want)))
            print(f"ok smoke {name} trace={trace}")


def test_broken_query() -> None:
    detail = os.path.join(WORK, "broken.json")
    for phase in ("build", "execute", "count"):
        out = _result(
            _bench(
                "--workload", "interactive_sql", "--trace", "0", "--smoke",
                "--break-query", f"j1_left_join:{phase}", detail=detail,
            )
        )
        with open(detail) as fh:
            d = json.load(fh)
        assert not out["correct"] and out["failed"] == 1, out
        assert d["error_rate"] > 0, d["error_rate"]
        assert d["failures"][0]["name"] == "j1_left_join", d["failures"]
        assert d["failures"][0]["phase"] == ("check" if phase == "count" else phase)
        assert set(out["metrics"]) >= {"wall_s", "setup_s"}, out
        print(f"ok broken query ({phase})")


def test_no_engine() -> None:
    bare = os.path.join(WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = _bench("--workload", "interactive_sql", "--trace", "0", cwd=bare)
    assert proc.returncode != 0 and not proc.stdout.strip(), proc.stdout
    shutil.rmtree(bare)
    print("ok no engine")


def main() -> None:
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    test_no_engine()
    test_broken_query()
    test_smoke(spec)
    shutil.rmtree(WORK, ignore_errors=True)
    print("all self-tests passed")


if __name__ == "__main__":
    main()
