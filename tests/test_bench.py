"""bench.py's output contract, checked without starting Spark: the per-query
runner, the headline builder and the report that prints it."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from geo_epic_spark.session import DEFAULT_CONF  # noqa: E402

QUERIES = ("tile_assign", "nearest_grid", "zonal_stats", "pricing_summary",
           "minhash_lsh", "cosine_topk", "hamming_near_dup", "focal_stats",
           "bm25_topk", "pq_topk", "image_decode")


def _report(res, tmp_path, capsys):
    status = bench.report(res, 0.1234, 4, "/root/testdata/sf0.1",
                          detail_path=str(tmp_path / "detail.json"))
    last = capsys.readouterr().out.splitlines()[-1]
    with open(tmp_path / "detail.json") as f:
        return status, last, json.load(f)


def test_headline_is_short_and_names_every_query(tmp_path, capsys):
    # worst-case widths: slow queries, long row counts
    res = {q: {"best": 123.456, "median": 234.567, "result_rows": 12345678,
               "rows_per_sec": 1234567, "load": 12.3, "steal": 0.1234}
           for q in QUERIES}
    status, last, detail = _report(res, tmp_path, capsys)
    assert len(last.encode()) <= 1000
    head = json.loads(last)
    assert head["value"] == round(123.456 * 11, 3)
    assert head["value_r4_subset"] == round(123.456 * 7, 3)
    assert set(head["queries"]) == set(QUERIES)
    assert head["failed"] == [] and status == 0
    assert detail["queries"] == res


def test_failing_query_yields_err_null_value_and_exit_1(tmp_path, capsys):
    def boom():
        raise ValueError("bad input\nsecond line")

    res = {q: bench.run_query(boom if q == "pq_topk" else (lambda: 7), rows=100)
           for q in QUERIES}
    assert res["pq_topk"] == {"err": "ValueError: bad input"}
    ok = res["tile_assign"]
    assert ok["result_rows"] == 7 and ok["best"] <= ok["median"]
    assert {"rows_per_sec", "load", "steal"} <= set(ok)
    status, last, detail = _report(res, tmp_path, capsys)
    head = json.loads(last)
    assert head["value"] is None and head["value_r4_subset"] is None
    assert head["failed"] == ["pq_topk"] and head["queries"]["pq_topk"] is None
    assert detail["queries"]["pq_topk"]["err"] == "ValueError: bad input"
    assert status == 1


def test_driver_heap_fits_physical_memory():
    heap = DEFAULT_CONF["spark.driver.memory"]
    assert "48g" not in DEFAULT_CONF.values()
    assert heap.endswith("g") and int(heap[:-1]) >= 1
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert int(heap[:-1]) * 2**30 <= phys
