"""Pair selection of tools/bench_scaling.py: the reported pair must not be
biased upward by a slowed N leg."""

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "tools", "bench_scaling.py")
_spec = importlib.util.spec_from_file_location("bench_scaling", _PATH)
bench_scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench_scaling)


def _pair(eff, combined, healthy=True):
    return {"efficiency": eff, "combined_sec": combined,
            "probe_healthy": healthy}


def test_pick_best_takes_lowest_combined_wall_among_uncontended():
    pairs = [
        _pair(0.78, 50.0),
        _pair(0.72, 40.0),            # fastest uncontended pair
        _pair(1.30, 30.0),            # efficiency > 1: contended
        _pair(0.95, 20.0, False),     # probe never clean: contended
        _pair(0.90, 45.0),            # highest clean efficiency, slower
    ]
    assert bench_scaling.pick_best(pairs) is pairs[1]
    assert [bench_scaling.contended(p) for p in pairs] == [
        False, False, True, True, False]


def test_pick_best_falls_back_when_every_pair_is_contended():
    pairs = [_pair(1.10, 30.0), _pair(0.80, 25.0, False)]
    assert bench_scaling.pick_best(pairs) is pairs[1]
