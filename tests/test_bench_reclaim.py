"""Regression pin for the r8 ADVICE fix (bench.py): the superseded v1
stress layout must be reclaimed even when the v2 layout is already
READY — the original guard only removed v1 while v2 still needed
building, so on a machine with a READY v2 the stale replicated parquet
under /tmp lived forever."""

from __future__ import annotations

import os
import shutil


def test_superseded_stress_dirs_reclaimed_even_when_current_ready(tmp_path):
    import bench

    sf_dir = str(tmp_path / "sfreclaimtest")
    os.makedirs(sf_dir)
    base = f"/tmp/spark_graft_stress_{os.path.basename(sf_dir)}_10x"
    v2 = f"{base}_v2"
    v3 = f"{base}_v3"
    try:
        # plant fake superseded v1 AND v2 dirs beside a READY v3
        for old_dir in (base, v2):
            os.makedirs(old_dir, exist_ok=True)
            with open(os.path.join(old_dir, "stale.parquet"), "w") as f:
                f.write("stale")
        os.makedirs(v3, exist_ok=True)
        with open(os.path.join(v3, "_READY"), "w") as f:
            f.write("ok")

        # spark=None: with a READY marker the build path is never taken
        out = bench._build_stress_dir(None, sf_dir, 10)

        assert out == v3
        assert os.path.exists(os.path.join(v3, "_READY"))
        assert not os.path.exists(base), "superseded v1 layout must be reclaimed"
        assert not os.path.exists(v2), "superseded v2 layout must be reclaimed"
    finally:
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(v2, ignore_errors=True)
        shutil.rmtree(v3, ignore_errors=True)


class _FakeClock:
    """time.time() stub: returns the next value from a queue."""

    def __init__(self, values):
        self._values = list(values)

    def time(self):
        return self._values.pop(0)


class _FakeDF:
    def count(self):
        return 1


class _FakeSpec:
    def build(self, spark, sf_dir):
        return _FakeDF()


def test_fresh_session_recheck_confirms_only_reproduced_breaches(monkeypatch):
    """r10 methodology pin: an in-context >2x reading only counts as a
    regression when a fresh-session best-of-2 reproduces it; the fresh
    value replaces the in-context one and both land in `recheck`."""
    import bench

    registry = {"slow_q": _FakeSpec(), "noisy_q": _FakeSpec()}
    baseline = {"slow_q": 1.0, "noisy_q": 1.0}
    # in-context both read as 3x their anchor
    timings = {"slow_q": 3.0, "noisy_q": 3.0}
    vs_baseline = {"slow_q": 3.0, "noisy_q": 3.0}
    recheck: dict = {}

    # per query, best-of-2 = two (t0, t1) pairs; slow_q reproduces at
    # 2.5s, noisy_q comes back at 0.5s (in-context session-state noise)
    monkeypatch.setattr(
        bench,
        "time",
        _FakeClock([0.0, 2.5, 10.0, 12.6, 20.0, 20.5, 30.0, 30.6]),
    )

    confirmed = bench._confirm_regressions(
        spark=None,
        registry=registry,
        candidates=["slow_q", "noisy_q"],
        baseline=baseline,
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
        sf_dir="/nonexistent",
    )

    assert confirmed == ["slow_q"]
    assert recheck["slow_q"] == {
        "in_context_sec": 3.0,
        "fresh_sec": 2.5,
        "vs_baseline": 2.5,
    }
    assert recheck["noisy_q"]["in_context_sec"] == 3.0
    assert recheck["noisy_q"]["fresh_sec"] == 0.5
    # the fresh values replace the in-context readings in the artifact
    assert timings == {"slow_q": 2.5, "noisy_q": 0.5}
    assert vs_baseline == {"slow_q": 2.5, "noisy_q": 0.5}


class _CrashSpec:
    def build(self, spark, sf_dir):
        raise RuntimeError("executor lost")


def test_recheck_error_keeps_breach_and_records_it(monkeypatch):
    """r10 ADVICE: a recheck crash must not sink the bench line — the
    in-context breach stays confirmed (conservative) and the error is
    recorded under recheck[name] for triage."""
    import bench

    registry = {"crash_q": _CrashSpec(), "noisy_q": _FakeSpec()}
    baseline = {"crash_q": 1.0, "noisy_q": 1.0}
    timings = {"crash_q": 3.0, "noisy_q": 3.0}
    vs_baseline = {"crash_q": 3.0, "noisy_q": 3.0}
    recheck: dict = {}
    # crash_q consumes one t0 before raising; noisy_q then runs best-of-2
    monkeypatch.setattr(bench, "time", _FakeClock([0.0, 1.0, 1.5, 10.0, 10.6]))

    confirmed = bench._confirm_regressions(
        spark=None,
        registry=registry,
        candidates=["crash_q", "noisy_q"],
        baseline=baseline,
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
        sf_dir="/nonexistent",
    )

    assert confirmed == ["crash_q"]
    assert recheck["crash_q"]["in_context_sec"] == 3.0
    assert "RuntimeError" in recheck["crash_q"]["error"]
    # the crashed query's in-context reading is NOT replaced
    assert timings["crash_q"] == 3.0
    # the healthy candidate still rechecks normally after the crash
    assert recheck["noisy_q"]["fresh_sec"] == 0.5


def test_gate_compares_unrounded_ratio(monkeypatch):
    """r10 ADVICE: a true ratio of 2.0049 must not pass the 2.0 gate via
    2-decimal display rounding (the committed worst query sat at exactly
    2.00x, i.e. the effective gate threshold was 2.005x)."""
    import bench

    registry = {"edge_q": _FakeSpec()}
    baseline = {"edge_q": 1.0}
    timings = {"edge_q": 3.0}
    vs_baseline = {"edge_q": 3.0}
    recheck: dict = {}
    # fresh best-of-2 = 2.004s against a 1.0s anchor: rounds to 2.00 but
    # the unrounded ratio breaches
    monkeypatch.setattr(bench, "time", _FakeClock([0.0, 2.004, 10.0, 12.5]))

    confirmed = bench._confirm_regressions(
        spark=None,
        registry=registry,
        candidates=["edge_q"],
        baseline=baseline,
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
        sf_dir="/nonexistent",
    )

    assert confirmed == ["edge_q"]
    assert recheck["edge_q"]["vs_baseline"] == 2.0  # display value rounds


def test_recheck_prefers_fresh_process_and_falls_back(monkeypatch):
    """r15: with a live session the recheck times the offender in a
    truly fresh PROCESS (cold JVM); if the subprocess fails it falls
    back to the in-process loop (pre-r15 behavior)."""
    import bench

    registry = {"proc_q": _FakeSpec(), "fallback_q": _FakeSpec()}
    baseline = {"proc_q": 1.0, "fallback_q": 1.0}
    timings = {"proc_q": 3.0, "fallback_q": 3.0}
    vs_baseline = {"proc_q": 3.0, "fallback_q": 3.0}
    recheck: dict = {}

    def fake_fresh(name, sf_dir, repeats=2):
        return 2.4 if name == "proc_q" else None  # fallback_q: subprocess fails

    monkeypatch.setattr(bench, "_fresh_process_best", fake_fresh)
    # fallback_q's in-process best-of-2 comes back at 0.5s
    monkeypatch.setattr(bench, "time", _FakeClock([0.0, 0.5, 10.0, 10.7]))

    confirmed = bench._confirm_regressions(
        spark=object(),  # non-None: the fresh-process path is eligible
        registry=registry,
        candidates=["proc_q", "fallback_q"],
        baseline=baseline,
        timings=timings,
        vs_baseline=vs_baseline,
        recheck=recheck,
        sf_dir="/nonexistent",
    )

    assert confirmed == ["proc_q"]
    assert recheck["proc_q"] == {
        "in_context_sec": 3.0,
        "fresh_sec": 2.4,
        "vs_baseline": 2.4,
        "fresh_process": True,
    }
    assert timings["proc_q"] == 2.4
    # the fallback path ran in-process and cleared the breach
    assert recheck["fallback_q"]["fresh_sec"] == 0.5
    assert "fresh_process" not in recheck["fallback_q"]


class _RowsDF:
    def __init__(self, n):
        self._n = n

    def count(self):
        return self._n


def test_time_best_returns_min_of_repeats_and_last_rows(monkeypatch):
    """The SPARK_GRAFT_REPEATS path of tools/time_queries.py: with
    repeats=3, time_best runs the build three times and returns the
    unrounded minimum and the LAST run's row count."""
    import bench

    clock = _FakeClock([0.0, 2.0, 10.0, 10.5, 20.0, 20.75])
    monkeypatch.setattr(bench, "time", clock)
    rows = iter([7, 8, 9])

    best, n = bench.time_best(
        None, lambda spark, sf_dir: _RowsDF(next(rows)), "/nonexistent", repeats=3
    )

    assert best == 0.5  # the middle run: neither the first nor the last
    assert n == 9
    assert clock._values == []  # exactly three timed runs


class _StubSession:
    stopped = False

    def stop(self):
        self.stopped = True


def test_recheck_opens_a_session_only_for_the_fallback(monkeypatch):
    """main() stops its session before the rechecks and passes a function
    that opens one: no JVM idles beside the cold-JVM subprocess, a
    session opens only when the in-process fallback runs, and it is
    stopped before _confirm_regressions returns."""
    import bench

    opened: list[_StubSession] = []

    def open_session():
        opened.append(_StubSession())
        return opened[-1]

    def fake_fresh(name, sf_dir, repeats=2):
        return 2.4 if name == "proc_q" else None

    monkeypatch.setattr(bench, "_fresh_process_best", fake_fresh)
    monkeypatch.setattr(bench, "time", _FakeClock([0.0, 0.5, 10.0, 10.7]))

    def recheck(candidates):
        return bench._confirm_regressions(
            spark=open_session,
            registry={"proc_q": _FakeSpec(), "fallback_q": _FakeSpec()},
            candidates=candidates,
            baseline={"proc_q": 1.0, "fallback_q": 1.0},
            timings={"proc_q": 3.0, "fallback_q": 3.0},
            vs_baseline={"proc_q": 3.0, "fallback_q": 3.0},
            recheck={},
            sf_dir="/nonexistent",
        )

    assert recheck(["proc_q"]) == ["proc_q"]
    assert opened == []  # every candidate rechecked in a fresh process
    assert recheck(["proc_q", "fallback_q"]) == ["proc_q"]
    assert len(opened) == 1 and opened[0].stopped
