"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The fixture and helper tests need no Spark.  The smoke tests run the
benchmark command at a tiny scale on both workloads, traced and untraced,
and compare the op digests the run records hold.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from perfbench import fixtures, instrument

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = 0.03


def _tables(maker, seed, root):
    import pyarrow.parquet as pq

    inputs = maker(seed, TINY, str(root))
    return {k: pq.read_table(p) for k, p in inputs.paths.items()}, inputs


@pytest.mark.parametrize("workload", sorted(fixtures.MAKERS))
def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, workload):
    maker = fixtures.MAKERS[workload]
    a, ia = _tables(maker, 7, tmp_path / "a")
    b, ib = _tables(maker, 7, tmp_path / "b")
    c, ic = _tables(maker, 8, tmp_path / "c")
    assert all(a[k].equals(b[k]) for k in a)
    assert ia.rows == ib.rows == ic.rows  # the seed changes values, not sizes
    varying = [k for k in a if k not in ("grid", "queries")]
    assert any(not a[k].equals(c[k]) for k in varying)


def test_polygons_have_32_to_64_vertices_inside_the_aoi():
    lon0, lat0, w, h = fixtures.AOI
    for xs, ys in fixtures.jittered_polygons(fixtures.rng_for(3, "t"), 50):
        assert 32 <= len(xs) <= 64
        assert lon0 < xs.min() and xs.max() < lon0 + w
        assert lat0 < ys.min() and ys.max() < lat0 + h


def test_planted_captions_are_near_duplicates():
    from perfbench.workloads import MINHASH_THRESHOLD, word_jaccard

    caps, planted = fixtures.captions(fixtures.rng_for(1, "t"), 300)
    assert planted
    assert all(word_jaccard(caps[a], caps[b]) >= 0.7 > MINHASH_THRESHOLD for a, b in planted)


def test_span_self_time_subtracts_children():
    sp = instrument.Spans()
    with sp.span("outer"):
        with sp.span("inner"):
            pass
    outer, inner = sp.spans
    st = sp.self_times()
    assert st["inner"] == pytest.approx(inner.end - inner.start)
    assert st["outer"] == pytest.approx((outer.end - outer.start) - (inner.end - inner.start))


def _run(workload, seed, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--scale", str(TINY)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, p.stdout[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    rec_line = [ln for ln in p.stdout.splitlines() if ln.startswith(f"{workload} record: ")][-1]
    with open(os.path.join(ROOT, rec_line.split(": ", 1)[1])) as f:
        record = json.load(f)
    return result, record


def _digests(record):
    out = {}
    for a in record["attempts"]:
        if a["phase"] in ("cold", "warm"):
            out.setdefault(a["op"], a["digest"])
    return out


@pytest.mark.parametrize("workload", ["site_assign", "curate"])
def test_smoke_traced_and_untraced(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    traced, rec1 = _run(workload, 1, 1)
    assert traced["correct"] and traced["failed"] == 0, rec1.get("check_errors")
    assert set(traced["metrics"]) == {m["name"] for m in bench["per_layer"]}
    # the overhead's untraced neighbours ran the workload's ops once each
    neighbours = [a["op"] for a in rec1["attempts"] if a["phase"] == "untraced"]
    assert neighbours == 2 * [a["op"] for a in rec1["attempts"] if a["phase"] == "cold"]
    untraced, rec2 = _run(workload, 1, 0)
    assert untraced["correct"]
    assert set(untraced["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    assert all(v["value"] > 0 for v in untraced["metrics"].values())
    # same seed, same checksums; another seed, other checksums
    assert _digests(rec1) == _digests(rec2)
    _, rec3 = _run(workload, 2, 0)
    d1, d3 = _digests(rec1), _digests(rec3)
    assert all(d1[k] != d3[k] for k in d1)
    if workload == "site_assign":
        assert traced["metrics"]["arrow.rows"]["value"] == 0
        m = traced["metrics"]
        assert m["resume.partitions_run"]["value"] == m["resume.partitions_invalidated"]["value"] > 0
    else:
        # every op's Arrow node reports, localCheckpoint-run plans included
        assert all(m["arrow.rows"] > 0 for m in rec1["traced_ops"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory that holds only the benchmark, the command fails
    without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curate", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
    assert not glob.glob(str(tmp_path / ".perfbench" / "records" / "*"))
