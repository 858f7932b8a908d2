"""Importing the query registry has no side effects: it reads no
committed artifact and leaves the entries in declaration order (the
``queries.py`` dict literal, then ``queries_pipeline.register``'s)."""

from __future__ import annotations

import ast
import fnmatch
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "hbase_tohdfs_spark")

# Runs in a fresh interpreter so the audit hook sees the first import.
_PROBE = """
import json, os, sys
opened = []
def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes)):
        opened.append(os.fsdecode(args[0]))
sys.addaudithook(hook)
from hbase_tohdfs_spark.queries import REGISTRY
print(json.dumps({"opened": opened, "order": list(REGISTRY)}))
"""


def _literal_keys(node: ast.Dict) -> list[str]:
    return [k.value for k in node.keys]


def _declared_order() -> list[str]:
    with open(os.path.join(PKG, "queries.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    literal = next(
        n.value
        for n in tree.body
        if isinstance(n, ast.AnnAssign) and getattr(n.target, "id", None) == "REGISTRY"
    )
    with open(os.path.join(PKG, "queries_pipeline.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    register = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "register"
    )
    update = next(
        n
        for n in ast.walk(register)
        if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "update"
    )
    return _literal_keys(literal) + _literal_keys(update.args[0])


def test_registry_import_reads_no_artifacts_and_keeps_declaration_order():
    env = dict(os.environ, PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    probe = json.loads(out.strip().splitlines()[-1])
    names = [os.path.basename(p) for p in probe["opened"]]
    artifacts = [
        n
        for n in names
        if fnmatch.fnmatch(n, "CORRECTNESS_r*.json") or n == "query_fingerprints.json"
    ]
    assert artifacts == [], f"registry import opened committed artifacts: {artifacts}"
    declared = _declared_order()
    assert len(set(declared)) == len(declared), "duplicate registry names"
    assert probe["order"] == declared
