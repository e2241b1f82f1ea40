"""Driver-side calibration / sensitivity loop — the engine analog of the
reference's `geoEpic/core/calibration.py` (PygmoProblem + SALib).

SURVEY §2.9 declares calibration a NON-goal as an *engine operator*: it is a
driver loop around the engine, exactly as the reference's PygmoProblem is a
loop around whole EPIC runs (`calibration.py:40-60` — fitness(x) edits
parameter files, reruns the model, returns the objective). This script is
that loop, concretely: each candidate parameter vector is evaluated by ONE
distributed Spark job (the reference forks whole-site processes via
`utils/parallel.py`; here every evaluation is already cluster-parallel), the
argmin decision — the only serial step — happens on the driver over a
handful of floats, mirroring how BPE training keeps one merge decision per
round on the driver.

Demo problem (planted truth, so the loop's correctness is checkable): daily
weather with nulled-out wind speed is "observed" after filling with the TRUE
ws fill value and wet-day threshold; grid-search the (fill, threshold) pair
whose monthly normals minimize SSE against the observed normals on the
(UAVO, DAYP) columns. The search must recover the planted (3.5, 0.5) — the
reference's default fill (`weather/main.py:18-37`) and wet threshold.

Run: python scripts/calibrate_example.py       (every core; ~1 min at 16 cores)
"""

from __future__ import annotations

import itertools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from geo_epic_spark import synth  # noqa: E402
from geo_epic_spark.operators.timeseries import monthly_normals  # noqa: E402
from geo_epic_spark.session import get_spark  # noqa: E402

TRUE_FILL, TRUE_WET = 3.5, 0.5
FILL_GRID = (2.0, 3.0, 3.5, 4.0, 5.0)
WET_GRID = (0.1, 0.5, 1.0)
N_CELLS, N_DAYS = 32, 730


def normals_for(daily, fill: float, wet: float):
    return monthly_normals(
        daily.na.fill({"ws": fill}), by=["cell_id"], wet_threshold=wet
    ).select("cell_id", "month", "UAVO", "DAYP")


def sse_against(cand, target) -> float:
    """ONE distributed job per candidate: join on (cell, month), aggregate
    the squared error — only a single float returns to the driver."""
    j = cand.alias("c").join(target.alias("t"), ["cell_id", "month"])
    err = (F.col("c.UAVO") - F.col("t.UAVO")) ** 2 + (
        F.col("c.DAYP") - F.col("t.DAYP")
    ) ** 2
    return j.agg(F.sum(err).alias("sse")).collect()[0]["sse"]


def main() -> None:
    spark = get_spark(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()), "calibrate")
    daily = synth.weather_daily_df(spark, N_CELLS, N_DAYS)
    # observed = the planted truth, cached once (every candidate reads it)
    target = normals_for(daily, TRUE_FILL, TRUE_WET).persist()
    target.count()

    trace = []
    for fill, wet in itertools.product(FILL_GRID, WET_GRID):
        sse = sse_against(normals_for(daily, fill, wet), target)
        trace.append({"ws_fill": fill, "wet_threshold": wet,
                      "sse": round(sse, 9)})
    best = min(trace, key=lambda r: r["sse"])

    # one-at-a-time sensitivity around the optimum (the SALib-OAT analog):
    # d(SSE)/d(param) per unit step, read straight off the trace
    def sens(key, fixed_key, fixed_val):
        pts = sorted(
            (r[key], r["sse"]) for r in trace if r[fixed_key] == fixed_val)
        return [
            {key: b, "dsse_dparam": round((sb - sa) / (b - a), 6)}
            for (a, sa), (b, sb) in zip(pts, pts[1:])
        ]

    out = {
        "best": best,
        "recovered_truth": best["ws_fill"] == TRUE_FILL
        and best["wet_threshold"] == TRUE_WET,
        "evaluations": len(trace),
        "trace": trace,
        "sensitivity_ws_fill": sens("ws_fill", "wet_threshold", TRUE_WET),
        "sensitivity_wet_threshold": sens("wet_threshold", "ws_fill", TRUE_FILL),
    }
    print(json.dumps(out))
    assert out["recovered_truth"], "calibration failed to recover the truth"
    spark.stop()


if __name__ == "__main__":
    main()
