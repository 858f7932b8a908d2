"""Each tool imports the package of the checkout it lives in.

A tool copied into another tree, next to that tree's package, must put
that tree first on ``sys.path`` — never a fixed checkout path.  The tool
runs in a child process (no Spark) with a run name other than
``__main__``, so only its module-level path setup executes.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RUN = """
import runpy, sys
runpy.run_path(sys.argv[1], run_name="tool_path_check")
import hbase_tohdfs_spark
print(hbase_tohdfs_spark.__file__)
"""


@pytest.mark.parametrize("tool", ["check_oracle.py", "ann_recall.py", "dump_plans.py"])
def test_tool_imports_its_own_checkout(tmp_path, tool):
    (tmp_path / "tools").mkdir()
    shutil.copy(os.path.join(ROOT, "tools", tool), tmp_path / "tools" / tool)
    (tmp_path / "hbase_tohdfs_spark").mkdir()
    (tmp_path / "hbase_tohdfs_spark" / "__init__.py").write_text("")
    # `python -c` puts its cwd on sys.path: run from a sibling directory
    # so only the tool's own path setup can reach the stub.
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", _RUN, str(tmp_path / "tools" / tool)],
        cwd=elsewhere,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == str(tmp_path / "hbase_tohdfs_spark" / "__init__.py")
