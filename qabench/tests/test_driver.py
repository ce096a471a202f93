from __future__ import annotations

from qabench.driver import MIN_PASSES, STEAL_MAX, Pass, usable, window_full


def _pass(steal: float, wall: float = 2.0) -> Pass:
    return Pass(steal, 1000 / wall, 100.0 * (1 + steal), wall)


def test_passes_with_high_steal_are_not_used():
    hi = STEAL_MAX * 2
    passes = [_pass(0.0), _pass(hi), _pass(0.01), _pass(hi), _pass(0.0)]
    assert usable(passes) == [p for p in passes if p.steal < hi]


def test_window_fills_with_clean_passes_only():
    hi = STEAL_MAX * 2
    passes = [_pass(hi, wall=5.0) for _ in range(4)]
    assert not window_full(passes, seconds=6)
    passes += [_pass(0.0, wall=2.0) for _ in range(MIN_PASSES)]
    assert window_full(passes, seconds=6)
    assert not window_full(passes, seconds=7)


def test_least_steal_passes_when_too_few_are_clean():
    steals = [0.2, 0.05, 0.3, 0.04, 0.1, 0.06]
    used = usable([_pass(s) for s in steals])
    assert sorted(p.steal for p in used) == sorted(steals)[:MIN_PASSES]
