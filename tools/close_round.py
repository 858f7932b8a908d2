"""One-command end-of-round close-out (r6 verdict task 3).

The end-of-round protocol has steps that are only sound TOGETHER and
IN ORDER — a sweep against code that then changed certifies nothing.
This script makes the protocol atomic:

  1. GUARD: refuse to run with uncommitted .py changes — the sweep
     must certify exactly the committed code.
  2. FULL SWEEP: ``tools/check_oracle.py <sf_dir> --json
     ORACLE_FULL_r0N.json`` over the entire registry.  Any failure
     aborts the close-out before the bench runs.
  3. BENCH: K runs of ``bench.py`` (default 3) to lay smoothing
     history for the per-query minima in BENCH_HISTORY.jsonl.

Usage:
    python tools/close_round.py N [--bench-runs K] [--sf-dir DIR]
                                  [--skip-bench] [--allow-dirty]

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


def calibration_gate(factor: float, require_healthy: bool) -> int | None:
    """Decide what a calibration reading means for the close-out.

    Returns None to proceed, or a non-zero exit code to refuse.  Split
    out from main() so the refusal policy is unit-testable without
    spawning Spark (r7 verdict task 2: "refuses/annotates when the host
    reads >1.5x the healthy floor").

    Policy: a DEGRADED host never blocks the END-OF-ROUND close-out —
    the protective bench history MUST still be laid (minima absorb sick
    runs; skipping them is what hurt round 7).  It DOES block a
    perf-landing close-out when the operator passes --require-healthy,
    because an A/B claim made on a degraded host is untrustworthy.
    """
    import bench

    if factor <= bench.VM_HEALTHY_FACTOR:
        return None
    if require_healthy:
        print(
            f"close_round: VM DEGRADED ({factor:.1f}x the healthy "
            "tpch_q6 floor) and --require-healthy was passed — refusing; "
            "re-run when tools/vm_calibrate.py reads HEALTHY",
            file=sys.stderr,
        )
        return 3
    print(
        f"close_round: VM DEGRADED ({factor:.1f}x the healthy floor) — "
        "proceeding (bench minima absorb sick runs), but do NOT read "
        "this close-out's raw totals as regressions; the per-run "
        "vm_calibration note in BENCH_HISTORY carries the attribution",
        flush=True,
    )
    return None


def probe_calibration(require_healthy: bool) -> int | None:
    """Run the min-of-4 probe; None to proceed, an exit code to refuse.

    vm_calibrate.calibrate refuses (SystemExit) when SPARK_GRAFT_SF_DIR
    points at a non-sf0.1 dir — its floor is sf-specific.  Catch that
    and refuse the close-out CLEANLY with a pointer to
    --skip-calibration instead of dying on an import-level guard with
    no gate decision (ADVICE r8).
    """
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import vm_calibrate

    try:
        runs, factor, verdict, detail = vm_calibrate.calibrate(4)
    except SystemExit as exc:
        print(
            f"close_round: calibration probe refused: {exc}\n"
            "close_round: pass --skip-calibration to close out without "
            "a host-health probe (e.g. when SPARK_GRAFT_SF_DIR is not "
            "the calibrated sf0.1)",
            file=sys.stderr,
        )
        return 4
    print(
        f"\n=== close_round calibration: {detail} -> worst axis "
        f"{factor:.1f}x -> {verdict}",
        flush=True,
    )
    return calibration_gate(factor, require_healthy)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("round", type=int)
    ap.add_argument("--bench-runs", type=int, default=3)
    ap.add_argument(
        "--min-healthy",
        type=int,
        default=2,
        help="stop laying bench runs early once this many of this "
        "close-out's runs self-report HEALTHY calibration (r10 verdict "
        "#3); --bench-runs stays the maximum either way",
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--skip-bench", action="store_true")
    ap.add_argument(
        "--require-healthy",
        action="store_true",
        help="abort (rc 3) if the min-of-4 tpch_q6 calibration reads "
        "DEGRADED — use when this close-out certifies a perf landing",
    )
    ap.add_argument(
        "--skip-calibration",
        action="store_true",
        help="skip the VM calibration probe (e.g. non-sf0.1 sf-dir)",
    )
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

    # Calibration first (r7 verdict task 2): record host health before
    # any timing-bearing artifact is produced.  min-of-4 tpch_q6 under
    # the exact bench protocol; the same floor also annotates every
    # bench line via bench.vm_health_note.
    if not args.skip_calibration:
        rc = probe_calibration(args.require_healthy)
        if rc is not None:
            return rc

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
            "failing queries; no bench runs were laid",
            file=sys.stderr,
        )
        return rc

    if not args.skip_bench:
        # r10 verdict #3: stop stacking protective appends.  Each bench
        # line self-reports host health (notes.vm_calibration — BOTH
        # axes since r12/ADVICE r11: the scan axis from THAT line's raw
        # tpch_q6 plus a live shuffle burn, so a scan-HEALTHY/
        # shuffle-sick run no longer counts toward the early stop); once
        # --min-healthy runs in this close-out are verified HEALTHY the
        # minima are protected and further runs are insurance with no
        # payout — stop.  A degraded host still lays the full
        # --bench-runs (minima absorb sick runs; skipping them is what
        # hurt round 7).
        import json as _json

        healthy = 0
        for i in range(args.bench_runs):
            proc = _run(
                [sys.executable, "bench.py"], capture_output=True, text=True
            )
            sys.stdout.write(proc.stdout)
            sys.stderr.write(proc.stderr[-2000:])
            if proc.returncode != 0:
                print(
                    f"close_round: bench run {i + 1} FAILED (rc {proc.returncode})",
                    file=sys.stderr,
                )
                return proc.returncode
            note = ""
            try:
                line = proc.stdout.strip().splitlines()[-1]
                note = _json.loads(line).get("notes", {}).get("vm_calibration", "")
            except (ValueError, IndexError):
                pass
            if "-> HEALTHY" in note:
                healthy += 1
                if healthy >= args.min_healthy:
                    print(
                        f"close_round: {healthy} verified-HEALTHY bench "
                        f"runs laid after {i + 1} total — stopping early "
                        "(r10 verdict #3: no insurance appends)",
                        flush=True,
                    )
                    break

    print(
        "\nclose_round: COMPLETE — commit the artifacts:\n"
        f"  git add {sweep_path} BENCH_HISTORY.jsonl\n"
        f'  git commit -m "Round {args.round} close-out: full-registry '
        'oracle sweep, bench history"'
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
