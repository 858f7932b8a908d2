"""One-command end-of-round close-out (r6 verdict task 3).

The end-of-round protocol has steps that are only sound TOGETHER and
IN ORDER — a sweep against code that then changed certifies nothing.
This script makes the protocol atomic:

  1. GUARD: refuse to run with uncommitted .py changes — the sweep
     must certify exactly the committed code.
  2. FULL SWEEP: ``tools/check_oracle.py <sf_dir> --json
     ORACLE_FULL_r0N.json`` over the entire registry.

Usage:
    python tools/close_round.py N [--sf-dir DIR] [--allow-dirty]

Prints the files to commit at the end; committing is left to the
operator so the close-out artifacts land in a reviewable commit.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], **kw) -> subprocess.CompletedProcess:
    print(f"\n=== close_round: {' '.join(cmd)}", flush=True)
    return subprocess.run(cmd, cwd=REPO, **kw)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("round", type=int)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--allow-dirty",
        action="store_true",
        help="proceed despite uncommitted .py changes (the sweep may "
        "then certify code that is never committed — know what you're doing)",
    )
    args = ap.parse_args()

    # -uall lists files INSIDE untracked directories too — without it a
    # whole new package dir shows as one '?? dir/' line that doesn't end
    # in .py and the guard waves it through (r7 review finding)
    dirty = subprocess.run(
        ["git", "status", "--porcelain", "-uall"],
        cwd=REPO,
        capture_output=True,
        text=True,
    ).stdout
    dirty_py = [
        ln for ln in dirty.splitlines() if ln.strip().endswith(".py")
    ]
    if dirty_py and not args.allow_dirty:
        print(
            "close_round: uncommitted .py changes — commit first so the "
            "sweep certifies the committed code "
            f"(or pass --allow-dirty):\n" + "\n".join(dirty_py),
            file=sys.stderr,
        )
        return 2

    sweep_path = f"ORACLE_FULL_r{args.round:02d}.json"
    rc = _run(
        [
            sys.executable,
            "tools/check_oracle.py",
            args.sf_dir,
            "--json",
            sweep_path,
        ]
    ).returncode
    if rc != 0:
        print(
            f"close_round: full sweep FAILED (rc {rc}) — fix the "
            "failing queries",
            file=sys.stderr,
        )
        return rc

    print(
        "\nclose_round: COMPLETE — commit the artifact:\n"
        f"  git add {sweep_path}\n"
        f'  git commit -m "Round {args.round} close-out: full-registry '
        'oracle sweep"'
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
