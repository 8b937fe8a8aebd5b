"""Median-of-3 round stamp for the bench baseline (r13 verdict #3).

A single ``python bench.py`` run carries the machine's same-code
environment spread into the next round's baseline: r12/r13 measured
double-digit wall-clock deltas between two runs of identical final
code (131.5 s vs 149.3 s), so whichever single run happened to get
stamped skewed every later regression ratio. This tool runs the full
bench THREE times in fresh subprocesses (independent JVMs, fresh
page-cache state for the cold paths), selects the run with the MEDIAN
headline total, and writes THAT run's complete sidecar as the round
stamp ``BENCH_DETAIL_r{N}.json`` — with all three totals and probe
readings recorded under ``median_of_3`` so the spread itself is
committed evidence. ``BENCH_DETAIL.json`` is also rewritten to the
selected run so the pytest gate grades the same numbers the stamp
records.

Run it as the LAST commit that touches engine code ("stamp at final
HEAD" — the r13 stamp predated the round's last two engine commits
and the judge had to re-verify plan inertness by hand).

Usage:
  python tools/stamp_bench.py            # 3 runs at sf0.1, stamp median
  SPARK_GRAFT_STAMP_RUNS=5 python tools/stamp_bench.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: A run whose probes exceed the quiet envelope by more than this is a
#: contention wave, not a measurement (r15 verdict #8: the r15 stamp
#: was taken inside a wave — 95 phantom "regressions", a poisoned
#: baseline the whole next round had to argue against).
PROBE_WAVE_FACTOR = 1.5
#: Extra attempts to wait out a wave before giving up.
MAX_WAVE_RETRIES = 3


def _quiet_envelope(repo: str) -> dict[str, float]:
    """Quiet-machine envelope: the MINIMUM calibration-probe reading
    across all committed round stamps. The minimum, not the newest
    stamp's value — the newest stamp can itself be wave-inflated
    (r15/r16 both were), and an inflated envelope would accept the
    next wave too; the CPU probe's quiet band has been stable for nine
    rounds (0.51–0.67 s) so its floor only ratchets down.

    Deliberately CPU-only: the cold-I/O probe's quiet floor SHIFTS
    between rounds for environmental reasons (r15 stamped 0.145 s,
    r16's quiet machine reads ~0.66 s after the sandbox's tempdir
    slowdown) — gating on its historical minimum would refuse every
    honest stamp. The I/O readings stay recorded in the stamp for the
    bench's own drift normalization; they just don't gate stamping."""
    env: dict[str, float] = {}
    for p in glob.glob(os.path.join(repo, "BENCH_DETAIL_r*.json")):
        if not re.search(r"BENCH_DETAIL_r(\d+)\.json$", p):
            continue
        try:
            with open(p) as f:
                d = json.load(f)
        except (OSError, ValueError):
            continue
        v = d.get("calibration_probe_sec")
        if v:
            env["calibration_probe_sec"] = min(
                env.get("calibration_probe_sec", v), v
            )
    return env


def _probes_quiet(detail: dict, envelope: dict[str, float]) -> list[str]:
    """Names of probes reading above PROBE_WAVE_FACTOR x the quiet
    envelope (empty = the run is stampable)."""
    noisy = []
    for key, floor in envelope.items():
        v = detail.get(key)
        if v and v > PROBE_WAVE_FACTOR * floor:
            noisy.append(f"{key} {v}s > {PROBE_WAVE_FACTOR}x quiet {floor}s")
    return noisy


def main() -> None:
    runs = max(1, int(os.environ.get("SPARK_GRAFT_STAMP_RUNS", "3")))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not sf_dir.rstrip("/").endswith("sf0.1"):
        print(
            f"# refusing to stamp at {sf_dir}: round stamps are sf0.1 only",
            file=sys.stderr,
        )
        sys.exit(2)
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    envelope = _quiet_envelope(REPO)
    details: list[dict] = []
    env = dict(os.environ, SPARK_GRAFT_NO_STAMP="1", SPARK_GRAFT_SF_DIR=sf_dir)
    attempts = 0
    retries = 0  # waves waited out since the last accepted run
    while len(details) < runs:
        attempts += 1
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")], env=env, cwd=REPO
        )
        if proc.returncode != 0:
            print(f"# bench attempt {attempts} rc={proc.returncode}", file=sys.stderr)
            sys.exit(proc.returncode)
        with open(detail_path) as f:
            d = json.load(f)
        # Stamp discipline (r15 verdict #8): a run taken inside a
        # contention wave must not become the next round's baseline.
        # Retry it a bounded number of times; refuse the stamp if the
        # wave outlasts the retries.
        noisy = _probes_quiet(d, envelope)
        if noisy:
            if retries < MAX_WAVE_RETRIES:
                retries += 1
                print(
                    f"# attempt {attempts}: contention wave detected "
                    f"({'; '.join(noisy)}) — run discarded, retrying",
                    file=sys.stderr,
                )
                continue
            print(
                f"# refusing to stamp: probes stayed above "
                f"{PROBE_WAVE_FACTOR}x the quiet envelope after "
                f"{MAX_WAVE_RETRIES} retries ({'; '.join(noisy)})",
                file=sys.stderr,
            )
            sys.exit(3)
        details.append(d)
        retries = 0
        print(
            f"# run {len(details)}/{runs}: total {d['value']}s, probe "
            f"{d.get('calibration_probe_sec')}s, io "
            f"{d.get('io_probe_cold_sec')}/{d.get('io_probe_warm_sec')}s "
            f"({time.monotonic() - t0:.0f}s wall)",
            file=sys.stderr,
        )
    order = sorted(range(runs), key=lambda i: details[i]["value"])
    # Lower median for even run counts: order[runs // 2] would pick the
    # upper-median run and bias the stamped baseline slightly slow
    # (r14 ADVICE; the default 3 is unaffected either way).
    pick = order[(runs - 1) // 2]
    stamped = dict(details[pick])
    stamped["median_of_3"] = {
        "selected_run": pick + 1,
        "totals_sec": [d["value"] for d in details],
        "calibration_probes_sec": [
            d.get("calibration_probe_sec") for d in details
        ],
        "io_probes_cold_sec": [d.get("io_probe_cold_sec") for d in details],
        "io_probes_warm_sec": [d.get("io_probe_warm_sec") for d in details],
        # a run that gated anywhere must be visible even if the median
        # pick was clean
        "unexplained_regressions_per_run": [
            d.get("unexplained_regressions", []) for d in details
        ],
    }
    import bench

    rnd = bench._round_no(REPO)
    stamp_path = os.path.join(REPO, f"BENCH_DETAIL_r{rnd:02d}.json")
    with open(stamp_path, "w") as f:
        json.dump(stamped, f, indent=1, sort_keys=True)
    # keep the live sidecar consistent with the stamp so the pytest
    # gate (tests/test_bench_gate.py reads BENCH_DETAIL.json) grades
    # the stamped run, not whichever subprocess happened to run last
    with open(detail_path, "w") as f:
        json.dump(stamped, f, indent=1, sort_keys=True)
    spread = max(d["value"] for d in details) / min(d["value"] for d in details)
    print(
        f"# stamped {os.path.basename(stamp_path)} from run {pick + 1} "
        f"(totals {[d['value'] for d in details]}, same-code spread "
        f"{spread:.3f}x)",
        file=sys.stderr,
    )


if __name__ == "__main__":
    main()
