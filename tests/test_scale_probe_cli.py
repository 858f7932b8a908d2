"""``tools/scale_probe.py`` rejects an unknown verb before it builds a
Spark session: non-zero exit, and the valid verbs on stderr."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Blocks pyspark in the child, so a run that gets as far as building a
# session fails with an ImportError instead of the verb message.
_RUN = """
import runpy, sys
sys.modules["pyspark"] = None
sys.argv = ["scale_probe.py", sys.argv[1]]
runpy.run_path("tools/scale_probe.py", run_name="__main__")
"""


@pytest.mark.parametrize("verb", ["ngram_ab", "no_such_verb"])
def test_unknown_verb_exits_nonzero_without_spark(verb):
    out = subprocess.run(
        [sys.executable, "-c", _RUN, verb],
        cwd=ROOT,
        env=dict(os.environ, PYTHONPATH=ROOT),
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode != 0
    assert f"unknown verb {verb!r}" in out.stderr, out.stderr
    assert "valid verbs: all, bloom, semdedup, ngram," in out.stderr
    assert out.stdout == ""
