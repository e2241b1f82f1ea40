"""scripts/scaling.py's arithmetic and pass/fail rule, checked without
starting Spark."""

import importlib.util
import os

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "scripts", "scaling.py")
_spec = importlib.util.spec_from_file_location("scaling", SCRIPT)
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)


def _level(seconds, digests):
    return {"ops": {name: {"s": s, "digests": digests[name]} for name, s in seconds.items()}}


def test_efficiency_from_level_times():
    assert scaling.efficiency(40.0, 10.0, 4) == 1.0
    assert scaling.efficiency(40.0, 12.5, 4) == 0.8
    same = {"pip_join": [[7, 123]] * 3, "zonal_stats": [[2, 5]] * 3}
    ops, ok = scaling.summarize({
        1: _level({"pip_join": 128.7, "zonal_stats": 65.0}, same),
        4: _level({"pip_join": 34.8, "zonal_stats": 17.2}, same),
    })
    assert ok
    assert ops["pip_join"] == {"local1_s": 128.7, "local4_s": 34.8, "efficiency": 0.925,
                               "digest": (7, 123)}
    assert ops["zonal_stats"]["efficiency"] == 0.945
    # the ratio is the levels' ratio, not a fixed 4
    ops, _ = scaling.summarize({2: _level({"pip_join": 10.0}, same),
                                4: _level({"pip_join": 5.0}, same)})
    assert ops["pip_join"]["efficiency"] == 1.0 and "local2_s" in ops["pip_join"]


def test_digest_mismatch_fails_the_run():
    ops, ok = scaling.summarize({
        1: _level({"pq_topk": 4.0}, {"pq_topk": [[80, 1]] * 3}),
        4: _level({"pq_topk": 1.0}, {"pq_topk": [[80, 1], [80, 2], [80, 1]]}),
    })
    assert not ok
    assert ops["pq_topk"]["digest"] == [(80, 1), (80, 2)]


def test_driver_defines_no_env_knob():
    with open(SCRIPT) as f:
        src = f.read()
    assert "SCALING_" not in src
    assert "environ" not in src and "getenv" not in src
