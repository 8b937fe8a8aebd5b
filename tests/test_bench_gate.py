"""Bench-regression gate.

bench.py diffs every run against the newest round-stamped
BENCH_DETAIL_r{N}.json and records queries >2x slower with no
BENCH_ALLOWLIST justification under ``unexplained_regressions`` in
BENCH_DETAIL.json. Round 6 shipped a 13.8x regression
(graph_hits_scores) that only the judge caught; this test makes that
class of silent regression fail the suite instead.

The test reads the LAST bench run's sidecar — it does not run the
bench itself (the full sf0.1 pass takes ~2 min and belongs to the
bench CLI, not the unit suite). It skips when no sidecar exists yet
or when the sidecar predates the newest stamped baseline (there is
nothing fresh to grade).
"""

import contextlib
import glob
import json
import os
import re
import shutil

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextlib.contextmanager
def _preserve_detail():
    """Save/restore BENCH_DETAIL.json around a bench.main() call.

    The sidecar is an untracked bench output — on a fresh checkout it
    does not exist yet, so 'restore' means 'remove whatever the test's
    bench run wrote' (the original shutil.copy-then-move pair crashed
    with FileNotFoundError before the test body even ran). Yields the
    sidecar path.
    """
    import bench

    detail = os.path.join(os.path.dirname(bench.__file__), "BENCH_DETAIL.json")
    saved = detail + ".test_saved"
    existed = os.path.exists(detail)
    if existed:
        shutil.copy(detail, saved)
    try:
        yield detail
    finally:
        if existed:
            shutil.move(saved, detail)
        elif os.path.exists(detail):
            os.remove(detail)


def _newest_stamped() -> str | None:
    stamped = sorted(
        (
            (int(m.group(1)), p)
            for p in glob.glob(os.path.join(REPO, "BENCH_DETAIL_r*.json"))
            if (m := re.search(r"BENCH_DETAIL_r(\d+)\.json$", p))
        )
    )
    return stamped[-1][1] if stamped else None


def test_no_unexplained_bench_regressions():
    detail = os.path.join(REPO, "BENCH_DETAIL.json")
    if not os.path.exists(detail):
        pytest.skip("no bench run recorded yet")
    base = _newest_stamped()
    # 60 s slack: bench writes the sidecar a moment before stamping the
    # round copy in the same run — that is fresh, not stale.
    if base and os.path.getmtime(detail) + 60 < os.path.getmtime(base):
        pytest.skip("last bench run predates the newest stamped baseline")
    with open(detail) as f:
        d = json.load(f)
    if "unexplained_regressions" not in d:
        pytest.skip("sidecar written by a pre-gate bench.py; rerun bench")
    assert d["unexplained_regressions"] == [], (
        "headline queries regressed >2x vs the stamped baseline with no "
        "BENCH_ALLOWLIST entry (see bench.py): "
        f"{d['unexplained_regressions']}"
    )


def test_allowlist_entries_are_registered_queries():
    import bench

    import __spark_entry__ as entrymod

    unknown = (
        set(bench.BENCH_ALLOWLIST) - set(entrymod.queries()) - {"__uniform_drift__"}
    )
    assert not unknown, f"BENCH_ALLOWLIST names unknown queries: {unknown}"


def _write_baseline(tmp_path, probe=1.0):
    import json

    base = {f"q{i}": 1.0 for i in range(20)}
    (tmp_path / "BENCH_DETAIL_r01.json").write_text(
        json.dumps({"queries": base, "sf": 0.1, "calibration_probe_sec": probe})
    )


def test_gate_normalizes_corroborated_uniform_drift(tmp_path, monkeypatch):
    """Round 3 measured a uniform ~1.9x sandbox-contention multiplier;
    when the calibration probe drifts WITH the queries, that must read
    as environment drift (no flags), while an isolated regression on
    top of the same drift must still gate."""
    import bench

    _write_baseline(tmp_path, probe=1.0)
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    uniform = {f"q{i}": 1.9 for i in range(20)}
    # probe drifted 1.9x too -> corroborated, normalized away
    assert bench._report_regressions(str(tmp_path), uniform, probe_sec=1.9) == []
    mixed = dict(uniform)
    mixed["q3"] = 5.0
    assert bench._report_regressions(str(tmp_path), mixed, probe_sec=1.9) == ["q3"]
    # a faster environment must not hide an absolute regression: clamp
    # keeps the baseline at 1x, so q7 at 2.4x its baseline still gates.
    fast = {f"q{i}": 0.5 for i in range(20)}
    fast["q7"] = 2.4
    assert bench._report_regressions(str(tmp_path), fast, probe_sec=0.5) == ["q7"]


def test_gate_rejects_uncorroborated_uniform_drift(tmp_path, monkeypatch):
    """A REAL codebase-wide slowdown (session-conf change, AQE off) is
    also uniform — but the engine-independent calibration probe stays
    flat, so the gate must NOT self-normalize it away (round-7 verdict
    item 2): it caps the scale and emits __uniform_drift__."""
    import bench

    _write_baseline(tmp_path, probe=1.0)
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    uniform = {f"q{i}": 1.9 for i in range(20)}
    gate = bench._report_regressions(str(tmp_path), uniform, probe_sec=1.0)
    assert "__uniform_drift__" in gate
    # ... unless explicitly allowlisted with a "<=X.Y"-bounded cause —
    # which must accept the drift FULLY: even a 2.8x uniform run (far
    # above the per-query 2x threshold against a capped baseline)
    # produces no per-query gates, and an isolated regression on top
    # of the accepted drift still gates.
    monkeypatch.setattr(
        bench, "BENCH_ALLOWLIST", {"__uniform_drift__": "<=3.0 test: known cause"}
    )
    assert (
        bench._report_regressions(str(tmp_path), uniform, probe_sec=1.0) == []
    )
    big = {f"q{i}": 2.8 for i in range(20)}
    assert bench._report_regressions(str(tmp_path), big, probe_sec=1.0) == []
    big["q3"] = 9.0
    assert bench._report_regressions(str(tmp_path), big, probe_sec=1.0) == ["q3"]
    # the entry is MAGNITUDE-BOUND: drift beyond its declared ratio
    # still gates (a stale entry cannot absorb a larger regression),
    # and an unbounded/malformed note never applies.
    huge = {f"q{i}": 5.0 for i in range(20)}
    assert "__uniform_drift__" in bench._report_regressions(
        str(tmp_path), huge, probe_sec=1.0
    )
    monkeypatch.setattr(
        bench, "BENCH_ALLOWLIST", {"__uniform_drift__": "no bound given"}
    )
    assert "__uniform_drift__" in bench._report_regressions(
        str(tmp_path), uniform, probe_sec=1.0
    )
    # Malformed bounds ("<=." / "<=1.2.3") must mean does-not-apply,
    # never a float() crash (round-8 advice).
    for bad in ("<=. broken", "<=1.2.3 broken"):
        monkeypatch.setattr(
            bench, "BENCH_ALLOWLIST", {"__uniform_drift__": bad}
        )
        assert "__uniform_drift__" in bench._report_regressions(
            str(tmp_path), uniform, probe_sec=1.0
        )


def test_gate_caps_drift_without_probe_baseline(tmp_path, monkeypatch):
    """Stamped baselines that predate the probe can't corroborate
    drift: normalization is capped at _UNCORROBORATED_DRIFT_CAP and a
    1.9x uniform run gates rather than self-normalizing."""
    import json

    import bench

    base = {f"q{i}": 1.0 for i in range(20)}
    (tmp_path / "BENCH_DETAIL_r01.json").write_text(
        json.dumps({"queries": base, "sf": 0.1})  # no calibration_probe_sec
    )
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    uniform = {f"q{i}": 1.9 for i in range(20)}
    assert "__uniform_drift__" in bench._report_regressions(
        str(tmp_path), uniform, probe_sec=1.9
    )
    # mild drift within the cap still normalizes fine
    mild = {f"q{i}": 1.25 for i in range(20)}
    assert bench._report_regressions(str(tmp_path), mild, probe_sec=1.25) == []


def test_gate_io_probe_corroborates_io_shaped_drift(tmp_path, monkeypatch):
    """r13 verdict: the CPU probe moved OPPOSITE to a 14% same-code
    suite swing — an I/O- or page-cache-shaped environment change is
    invisible to a shuffle micro-job. With the I/O probe stamped in
    the baseline, uniform drift that the I/O axis corroborates (cold
    scans slowed with the suite) must normalize even when the CPU
    probe is flat; with BOTH axes flat it must still gate."""
    import bench

    (tmp_path / "BENCH_DETAIL_r01.json").write_text(
        json.dumps(
            {
                "queries": {f"q{i}": 1.0 for i in range(20)},
                "sf": 0.1,
                "calibration_probe_sec": 1.0,
                "io_probe_cold_sec": 0.4,
                "io_probe_warm_sec": 0.1,
            }
        )
    )
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    uniform = {f"q{i}": 1.9 for i in range(20)}
    # CPU probe flat (even slightly fast), but cold I/O slowed 1.9x
    # with the suite -> corroborated, normalized away
    assert (
        bench._report_regressions(
            str(tmp_path), uniform, probe_sec=0.95, io_probe=(0.76, 0.1)
        )
        == []
    )
    # ... and an isolated regression on top still gates
    mixed = dict(uniform)
    mixed["q3"] = 5.0
    assert bench._report_regressions(
        str(tmp_path), mixed, probe_sec=0.95, io_probe=(0.76, 0.1)
    ) == ["q3"]
    # the warm (page-cache/memory-bandwidth) axis corroborates too
    assert (
        bench._report_regressions(
            str(tmp_path), uniform, probe_sec=0.95, io_probe=(0.4, 0.19)
        )
        == []
    )
    # all three axes flat -> a uniform slowdown is the code's fault
    assert "__uniform_drift__" in bench._report_regressions(
        str(tmp_path), uniform, probe_sec=1.0, io_probe=(0.4, 0.1)
    )
    # baseline without io keys: io_probe passed but ignored, CPU-only
    (tmp_path / "BENCH_DETAIL_r01.json").write_text(
        json.dumps(
            {
                "queries": {f"q{i}": 1.0 for i in range(20)},
                "sf": 0.1,
                "calibration_probe_sec": 1.0,
            }
        )
    )
    assert "__uniform_drift__" in bench._report_regressions(
        str(tmp_path), uniform, probe_sec=1.0, io_probe=(99.0, 99.0)
    )


def test_gate_probe_noise_cannot_shrink_tolerance(tmp_path, monkeypatch):
    """An unluckily FAST probe must not tighten the cap below the
    probe-less fallback: mild ~1.25x drift with a flat-or-fast probe
    stays ungated."""
    import bench

    _write_baseline(tmp_path, probe=1.0)
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    mild = {f"q{i}": 1.25 for i in range(20)}
    assert bench._report_regressions(str(tmp_path), mild, probe_sec=0.9) == []


def test_gated_queries_are_confirmed_by_retry(monkeypatch, capsys):
    """main()'s confirm-by-retry: a gate produced by transient
    contention must not stand — flagged queries are re-measured and
    the gate recomputed with the better medians (round 10: three
    UNTOUCHED queries gated at 2-4x with consistent probe; the
    re-run was clean). __uniform_drift__ is never retryable."""
    import bench

    calls = {"n": 0}

    def fake_report(repo, timings, probe_sec=None, io_probe=None):
        calls["n"] += 1
        if calls["n"] == 1:
            return ["mr_wordcount", "__uniform_drift__"]
        return []

    with _preserve_detail() as detail:
        monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.001")
        monkeypatch.setattr(bench, "REPEATS", 1)
        monkeypatch.setattr(bench, "HEADLINE", ["mr_wordcount"])
        monkeypatch.setattr(bench, "_report_regressions", fake_report)
        bench.main()
        err = capsys.readouterr().err
        assert "re-measuring 1 gated queries" in err
        assert "retry mr_wordcount" in err
        assert calls["n"] == 2  # gate recomputed after the retry
        with open(detail) as f:
            assert json.load(f)["unexplained_regressions"] == []


def test_cold_artifact_build_runs_excluded_from_median(monkeypatch, capsys):
    """A timed run that materializes a session-shared artifact is the
    once-per-session build, not the query: bench must exclude it from
    the median, take an extra run in its place, and record the event
    (r10 verdict: the dedup CC fixpoint landing in run 1 of
    dedup_cluster_size_report turned its median into max(two
    post-build runs) — four rounds of ±50% oscillation)."""
    import bench
    from mit_map_reduce_spark import catalog

    real_queries = None

    def wrapped_queries():
        qs = real_queries()
        inner = qs["mr_wordcount"]
        state = {"calls": 0}

        def cold_then_warm(spark, sf_dir):
            state["calls"] += 1
            if state["calls"] == 1:
                catalog._BUILD_EVENTS.append(("fake_artifact", 9.99))
            return inner(spark, sf_dir)

        qs["mr_wordcount"] = cold_then_warm
        return qs

    import __spark_entry__ as entrymod

    real_queries = entrymod.queries
    with _preserve_detail() as detail:
        monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.001")
        monkeypatch.setattr(bench, "REPEATS", 2)
        monkeypatch.setattr(bench, "HEADLINE", ["mr_wordcount"])
        monkeypatch.setattr(bench, "_report_regressions", lambda *a, **k: [])
        monkeypatch.setattr(entrymod, "queries", wrapped_queries)
        bench.main()
        err = capsys.readouterr().err
        assert "excluded" in err and "fake_artifact" in err
        with open(detail) as f:
            side = json.load(f)
        builds = side["cold_artifact_builds"]["mr_wordcount"]
        assert builds[0]["artifacts"] == ["fake_artifact"]
        # median came from REPEATS clean runs: 3 total calls were made
        # (1 cold excluded + 2 timed)


def test_every_run_builds_falls_back_to_including_runs(monkeypatch, capsys):
    """Attempt-cap fallback: a query that reports an artifact build on
    EVERY run (no registry hit — pathological, but the loop must
    terminate) still produces a median after REPEATS + 2 attempts,
    with the overflow runs included rather than spinning forever."""
    import bench
    from mit_map_reduce_spark import catalog

    real_queries = None

    def wrapped_queries():
        qs = real_queries()
        inner = qs["mr_wordcount"]
        calls = {"n": 0}

        def always_cold(spark, sf_dir):
            calls["n"] += 1
            catalog._BUILD_EVENTS.append((f"evergreen_{calls['n']}", 0.01))
            return inner(spark, sf_dir)

        qs["mr_wordcount"] = always_cold
        qs["__calls__"] = calls  # smuggled out for the assertion
        return qs

    import __spark_entry__ as entrymod

    real_queries = entrymod.queries
    seen = {}

    def capture_queries():
        qs = wrapped_queries()
        seen.update(calls=qs.pop("__calls__"))
        return qs

    with _preserve_detail() as detail:
        monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.001")
        monkeypatch.setattr(bench, "REPEATS", 2)
        monkeypatch.setattr(bench, "HEADLINE", ["mr_wordcount"])
        monkeypatch.setattr(bench, "_report_regressions", lambda *a, **k: [])
        monkeypatch.setattr(entrymod, "queries", capture_queries)
        bench.main()
        with open(detail) as f:
            side = json.load(f)
        assert side["queries"]["mr_wordcount"] > 0  # a median was produced
        # at most REPEATS+1 runs can be excluded (attempts < REPEATS+2),
        # then REPEATS more are included regardless: 3 excluded + 2
        # included = 5 calls total, bounded — never an infinite loop
        assert seen["calls"]["n"] == 5
        evs = side["cold_artifact_builds"]["mr_wordcount"]
        # ALL 5 build runs are recorded; the 2 past the cap are marked
        # included_in_median so the sidecar never silently hides a
        # build inside a median
        assert len(evs) == 5
        assert [e.get("included_in_median", False) for e in evs] == [
            False,
            False,
            False,
            True,
            True,
        ]


def test_cold_build_drift_advisory(tmp_path, capsys, monkeypatch):
    """_report_cold_build_drift prints (advisory, never gates) when an
    artifact's max build-run seconds exceed 2x the newest stamped
    sidecar's record — the one visibility hook for build regressions
    now that build runs live outside the gated medians. Baselines at a
    different SF never apply (same guard as the timing gate)."""
    import bench

    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    (tmp_path / "BENCH_DETAIL_r01.json").write_text(
        json.dumps(
            {
                "sf": 0.1,
                "cold_artifact_builds": {
                    "q1": [{"sec": 4.0, "artifacts": ["dedup_cc_labels"]}],
                    "q2": [{"sec": 0.2, "artifacts": ["tiny_artifact"]}],
                },
            }
        )
    )
    cur = {
        "q1": [{"sec": 9.5, "artifacts": ["dedup_cc_labels"]}],
        # tiny baselines (<0.5s) never alarm, whatever the ratio
        "q2": [{"sec": 1.9, "artifacts": ["tiny_artifact"]}],
        # unknown artifacts never alarm
        "q3": [{"sec": 30.0, "artifacts": ["brand_new"]}],
    }
    bench._report_cold_build_drift(str(tmp_path), cur)
    err = capsys.readouterr().err
    assert "COLD-BUILD DRIFT" in err and "dedup_cc_labels" in err
    assert "tiny_artifact" not in err and "brand_new" not in err
    # an sf-mismatched baseline never applies
    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.001")
    bench._report_cold_build_drift(str(tmp_path), cur)
    assert "COLD-BUILD DRIFT" not in capsys.readouterr().err


def test_newest_stamp_carries_all_three_probe_axes():
    """The worst-of-three-axes drift rule (SURVEY section 8, active
    from r15) only engages when the committed baseline stamp carries
    ALL THREE probe readings — the r14 run corroborated against CPU
    alone because its r13 baseline predated the I/O pair. Pin the
    newest committed BENCH_DETAIL so the axes can't silently lapse
    from a stamp again."""
    import bench

    newest = bench._newest_stamped_detail("/root/repo")
    assert newest is not None
    rnd, prev = newest
    assert rnd >= 14
    for key in (
        "calibration_probe_sec",
        "io_probe_cold_sec",
        "io_probe_warm_sec",
    ):
        assert prev.get(key), f"BENCH_DETAIL_r{rnd:02d}.json missing {key}"


def test_stamp_guard_detects_contention_wave(tmp_path):
    """tools/stamp_bench.py stamp discipline (r15 verdict #8): the
    quiet envelope is the MIN probe reading across committed stamps
    (never the newest stamp, which can itself be wave-inflated), and a
    run whose calibration or cold-I/O probe exceeds 1.5x that envelope
    is flagged as a contention wave."""
    import importlib
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        sb = importlib.import_module("stamp_bench")
    finally:
        sys.path.pop(0)

    (tmp_path / "BENCH_DETAIL_r01.json").write_text(
        json.dumps({"calibration_probe_sec": 0.6, "io_probe_cold_sec": 0.7})
    )
    # a newer, wave-inflated stamp must NOT loosen the envelope
    (tmp_path / "BENCH_DETAIL_r02.json").write_text(
        json.dumps({"calibration_probe_sec": 1.35, "io_probe_cold_sec": 2.0})
    )
    env = sb._quiet_envelope(str(tmp_path))
    # CPU-only by design: the cold-I/O quiet floor shifts between
    # rounds (r15 0.145s vs r16 quiet ~0.66s), so a historical-min
    # I/O gate would refuse every honest stamp.
    assert env == {"calibration_probe_sec": 0.6}
    # quiet run: probe within 1.5x the envelope
    assert sb._probes_quiet({"calibration_probe_sec": 0.65}, env) == []
    # wave: calibration probe 2x the quiet floor
    noisy = sb._probes_quiet({"calibration_probe_sec": 1.2}, env)
    assert len(noisy) == 1 and "calibration_probe_sec" in noisy[0]
    # missing probe keys never flag (pre-probe sidecars)
    assert sb._probes_quiet({}, env) == []


def test_stamp_wave_retries_reset_per_accepted_run(tmp_path, monkeypatch):
    """The wave-retry budget is per stamped run: three waves before
    each of two accepted runs must not exhaust it."""
    import importlib
    import sys
    import types

    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        sb = importlib.import_module("stamp_bench")
    finally:
        sys.path.pop(0)

    (tmp_path / "BENCH_DETAIL_r01.json").write_text(
        json.dumps({"calibration_probe_sec": 0.6})
    )
    wave, quiet = 1.2, 0.6
    probes = [wave] * 3 + [quiet] + [wave] * 3 + [quiet] * 2

    def fake_run(cmd, env, cwd):
        probe = probes.pop(0)
        (tmp_path / "BENCH_DETAIL.json").write_text(
            json.dumps({"value": 100.0 + probe, "calibration_probe_sec": probe})
        )
        return types.SimpleNamespace(returncode=0)

    monkeypatch.setattr(sb, "REPO", str(tmp_path))
    monkeypatch.setattr(sb.subprocess, "run", fake_run)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    monkeypatch.delenv("SPARK_GRAFT_STAMP_RUNS", raising=False)
    sb.main()  # refused with SystemExit(3) when the budget never reset
    assert probes == []
    stamp = json.loads((tmp_path / "BENCH_DETAIL_r01.json").read_text())
    assert stamp["median_of_3"]["calibration_probes_sec"] == [quiet] * 3
