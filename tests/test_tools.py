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
