"""The bench harness's one timing rule (`bench.timed`), checked against a
stub session and a scripted clock: no Spark needed."""

from __future__ import annotations

import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _run_timed(monkeypatch, durations):
    """Run `bench.timed` with run i taking durations[i] seconds; returns
    (result, event log)."""
    events: list[str] = []
    clock = [0.0]
    todo = list(durations)

    def thunk() -> None:
        events.append("run")
        clock[0] += todo.pop(0)

    session = types.SimpleNamespace(
        catalog=types.SimpleNamespace(clearCache=lambda: events.append("clear"))
    )
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(time=lambda: clock[0]))
    monkeypatch.setattr(bench.gc, "collect", lambda: events.append("gc"))
    return bench.timed(session, thunk), events


@pytest.mark.parametrize(
    "durations, runs",
    [
        ([5.0, 1.0, 1.2], [1.0, 1.2]),  # agree: min-of-2
        ([0.1, 1.0, 1.5], [1.0, 1.5]),  # exactly 1.5x is agreement
        ([0.1, 1.0, 1.6, 0.9], [1.0, 1.6, 0.9]),  # disagree: tie-breaker
        ([3.0, 2.0, 1.0, 1.1], [2.0, 1.0, 1.1]),  # either order
    ],
)
def test_timed_primes_then_takes_min_of_two_or_three(monkeypatch, durations, runs):
    result, events = _run_timed(monkeypatch, durations)
    # Every run, the priming one included, starts from a cleared cache
    # and a collected heap.
    assert events == ["clear", "gc", "run"] * len(durations)
    # The priming run is reported but neither a timed run nor the min.
    assert result.prime == durations[0]
    assert result.runs == runs
    # A third run happens iff the first two disagree by more than 1.5x.
    assert (len(runs) == 3) == (max(runs[:2]) > 1.5 * min(runs[:2]))
    assert result.sec == min(runs)


def test_failing_row_is_recorded_and_the_rest_still_run(monkeypatch):
    """A row that raises lands in `errors` under group.name; the rows
    after it still run, and rows of other fixtures are not touched."""
    session = types.SimpleNamespace(catalog=types.SimpleNamespace(clearCache=lambda: None))
    monkeypatch.setattr(bench, "write_noop", lambda df: None)

    def broken(_spark, _d):
        raise ValueError("boom")

    rows = [
        ("g", "broken", broken, bench.SF),
        ("g", "fine", lambda _spark, _d: None, bench.SF),
        ("g", "other_fixture", broken, bench.SF1),
    ]
    errors: dict[str, str] = {}
    out = bench.run_rows(session, rows, {bench.SF: "/unused"}, errors)
    assert errors == {"g.broken": "ValueError: boom"}
    assert list(out) == ["g"] and list(out["g"]) == ["fine"]
