"""Bench-ratio tripwire (VERDICT r7 #8, tightened per VERDICT r8 #3).

The round gate is "within 2x of duckdb at sf0.1" on the ex-py aggregate.
Round 7 showed one failure mode (new-query mix-shift silently eating the
margin); round 8 showed another: the recorded artifact landed under a
1,400 s hypervisor-steal storm and the old guard granted itself a +0.15
"weather allowance" off the run's OWN steal reading — i.e. the same
artifact both claimed the excuse and passed the gate, so a genuine 1.9x
regression on a noisy host would have slipped through.

The fix is structural: bench.py now maintains TWO artifacts.
BENCH_DETAIL.json is always the latest run (storm or calm,
informational); BENCH_CALM.json may only be refreshed by a run whose
measured steal is under bench.CALM_STEAL_SEC. This test hard-gates the
CALM artifact at bench.RATIO_GUARD with no allowance of any kind, plus
the 2x index-build throughput line — so the gating evidence is always a
calm-weather measurement, and storms can neither pass nor excuse it.

It reads the committed artifact rather than re-running the ~2-minute
bench inside pytest; bench.py itself warns on stderr at the same line.
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _guard_violations(detail: dict) -> list[str]:
    """Pure gate logic, shared by the real-artifact test and the
    synthetic-fixture tests below. Returns every violated condition."""
    import bench

    out: list[str] = []
    steal = detail.get("host_steal_sec")
    if steal is None or steal >= bench.CALM_STEAL_SEC:
        out.append(
            f"not a calm-window artifact (steal={steal}s, "
            f"calm < {bench.CALM_STEAL_SEC}s required)"
        )
    ratio = detail["vs_duckdb_ratio_ex_py"]
    if ratio >= bench.RATIO_GUARD:
        out.append(
            f"ex-py ratio {ratio} >= guard {bench.RATIO_GUARD} (gate 2.0)"
        )
    build = detail.get("index_build") or {}
    if build.get("ratio") is not None and build["ratio"] >= bench.BUILD_RATIO_GATE:
        out.append(
            f"index-build ratio {build['ratio']} >= "
            f"{bench.BUILD_RATIO_GATE} gate"
        )
    return out


def _calm_staleness(detail: dict) -> str | None:
    """Provenance check (ADVICE r9 #2): a calm artifact recorded against
    OLDER bench-relevant sources must not keep satisfying the hard gate
    after a perf-relevant edit — new stormy runs never refresh it, so a
    stale pass would quietly outlive a regression. Returns a reason when
    the artifact predates the current tree, else None."""
    import bench

    sha = detail.get("sources_sha")
    if sha is None:
        return (
            "artifact predates provenance recording (no sources_sha) — "
            "re-run bench.py in a calm window to refresh it"
        )
    current = bench.bench_sources_sha()
    if sha != current:
        return (
            f"artifact sources_sha {sha[:12]} != current tree "
            f"{current[:12]} (recorded at commit "
            f"{str(detail.get('recorded_at_commit'))[:12]}) — bench-"
            "relevant sources changed since; re-run bench.py in a calm "
            "window"
        )
    # Config provenance (VERDICT r10 #1): the hard gate only vouches for
    # the default-core-count config. The round-10 driver's calm 8-core
    # scaling run replaced BENCH_CALM and the gate failed on the inflated
    # multi-stage floor of a 4x-smaller scheduler, not on a regression.
    if detail.get("cpus") != bench.GATE_CPUS:
        return (
            f"artifact recorded at cpus={detail.get('cpus')}, gate "
            f"requires the default local[{bench.GATE_CPUS}] config — "
            "re-run bench.py at the default core count in a calm window"
        )
    return None


def test_calm_bench_artifact_under_guard():
    import pytest

    path = os.path.join(REPO, "BENCH_CALM.json")
    if not os.path.exists(path):
        # A storm run can never stand in for calm evidence (that was the
        # r08 allowance's flaw), and this host's hypervisor weather is
        # not ours to schedule — so the hard gate SKIPS loudly (never
        # passes) until a genuinely calm run records the artifact; the
        # unconditional 2.0 round-gate test below still guards every
        # committed BENCH_DETAIL in the meantime.
        pytest.skip(
            "BENCH_CALM.json missing — no run with measured steal < "
            f"{150.0}s has completed yet; run bench.py in a calm window "
            "(storm runs only refresh the informational "
            "BENCH_DETAIL.json and can never satisfy this gate)"
        )
    detail = json.load(open(path))
    stale = _calm_staleness(detail)
    if stale:
        # Loud SKIP, never a pass: the gate must not keep asserting on
        # evidence recorded before the code it would be vouching for.
        pytest.skip(f"BENCH_CALM.json stale — {stale}")
    violations = _guard_violations(detail)
    assert not violations, (
        "calm bench artifact fails the hard gate: "
        + "; ".join(violations)
        + " — find the mix-shift or regression before shipping; see "
        "BENCH_CALM.json per-query rows"
    )


def test_informational_artifact_under_round_gate():
    """Weather-independent floor: whatever the latest run's conditions,
    the recorded ex-py ratio must stay under the 2.0 ROUND gate — a true
    regression trips CI even when every window is stormy. No allowance
    of any kind."""
    detail = json.load(open(os.path.join(REPO, "BENCH_DETAIL.json")))
    ratio = detail["vs_duckdb_ratio_ex_py"]
    assert ratio < 2.0, (
        f"ex-py ratio {ratio} >= 2.0 round gate (recorded steal "
        f"{detail.get('host_steal_sec')}s) — regression regardless of "
        "weather; see BENCH_DETAIL.json per-query rows"
    )


def test_guard_rejects_calm_regression_fixture():
    """A 1.9x ratio measured in PERFECT weather must fail — the exact
    case the retired weather allowance would have let through."""
    fixture = {
        "host_steal_sec": 3.0,
        "vs_duckdb_ratio_ex_py": 1.9,
        "index_build": {"ratio": 1.5},
    }
    violations = _guard_violations(fixture)
    assert violations and "ratio 1.9" in violations[0]


def test_guard_rejects_storm_artifact_even_if_ratio_ok():
    """A storm run can never serve as gating evidence, regardless of
    how good its numbers look."""
    fixture = {
        "host_steal_sec": 1399.8,
        "vs_duckdb_ratio_ex_py": 1.5,
        "index_build": {"ratio": 1.5},
    }
    violations = _guard_violations(fixture)
    assert violations and "not a calm-window artifact" in violations[0]


def test_staleness_flags_legacy_and_mismatched_artifacts():
    """The provenance check must flag both a pre-provenance artifact
    (no sources_sha) and one recorded against different sources; a
    freshly-computed sha must pass."""
    import bench

    assert _calm_staleness({}) is not None
    assert "sources_sha" in _calm_staleness({})
    assert _calm_staleness({"sources_sha": "0" * 64}) is not None
    # matching sources but recorded at the wrong core count (the r10
    # 8-core scaling-run artifact) must also be refused
    sha = bench.bench_sources_sha()
    assert "cpus=8" in _calm_staleness({"sources_sha": sha, "cpus": 8})
    assert "cpus=None" in _calm_staleness({"sources_sha": sha})
    assert _calm_staleness({"sources_sha": sha, "cpus": 32}) is None


def test_stdout_query_selection_is_stable():
    """The stdout `queries` key set must not depend on which rows were
    slowest in a given run (VERDICT r10 #6: the old top-60-slowest rule
    reshuffled with the weather, producing false dropped_from_bench rows
    in every driver diff). Same registry, different timings => same keys;
    pinned names always present; line budget respected."""
    import bench

    base_out = {
        "metric": "total_query_wall_sec",
        "value": 40.0,
        "unit": "sec",
        "queries": {},
        "sf": 0.1,
        "vs_duckdb_ratio": 1.7,
        "ratio_def": "ex_py",
        "index_build_docs_per_sec": 16000.0,
        "host_steal_sec": 10.0,
        "detail": "BENCH_DETAIL.json",
    }
    names = bench.STDOUT_PINNED + [f"zz_extra_{i:03d}" for i in range(120)]
    fast_pinned = {n: (0.01 if n in bench.STDOUT_PINNED else 9.99) for n in names}
    slow_pinned = {n: (9.99 if n in bench.STDOUT_PINNED else 0.01) for n in names}
    sel_a = bench._stdout_queries(fast_pinned, dict(base_out))
    sel_b = bench._stdout_queries(slow_pinned, dict(base_out))
    assert set(sel_a) == set(sel_b), "key set depends on timings"
    assert set(bench.STDOUT_PINNED) <= set(sel_a), "a pinned name was evicted"
    out = dict(base_out)
    out["queries"] = sel_a
    assert len(json.dumps(out, separators=(",", ":"))) <= 1950


def test_oversized_pinned_list_raises(monkeypatch):
    """A pinned list whose names alone overflow the 1900-char budget must
    fail loudly instead of printing a line over the tail-parse limit."""
    import pytest

    import bench

    pinned = [f"pinned_query_name_{i:03d}" for i in range(100)]
    monkeypatch.setattr(bench, "STDOUT_PINNED", pinned)
    with pytest.raises(ValueError, match="1900-char budget"):
        bench._stdout_queries({n: 1.0 for n in pinned}, {"metric": "m"})


def test_guard_rejects_slow_index_build():
    fixture = {
        "host_steal_sec": 3.0,
        "vs_duckdb_ratio_ex_py": 1.5,
        "index_build": {"ratio": 3.04},
    }
    violations = _guard_violations(fixture)
    assert violations and "index-build ratio" in violations[0]


def test_bad_cpus_fails_before_the_run(monkeypatch):
    """A non-integer SPARK_GRAFT_CPUS stops bench.py at startup with a
    clear message, before any Spark session exists (ADVICE: it used to
    crash in int(cpus) only after the full suite had run)."""
    import pytest

    import bench

    def no_session(*a, **kw):
        raise AssertionError("the run started despite a bad SPARK_GRAFT_CPUS")

    monkeypatch.setattr(bench, "get_spark", no_session)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "eight")
    with pytest.raises(SystemExit, match="SPARK_GRAFT_CPUS must be an integer"):
        bench.main()
