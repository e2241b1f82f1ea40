"""geo_epic_spark.worker_daemon: the per-task archive re-read is skipped only
for the archives on the daemon's start-up path, and the patch is live in the
workers of a session built by get_spark."""

import importlib.util
import json
import os
import sys
import uuid
import zipfile
import zipimport

import pyarrow as pa

from geo_epic_spark.worker_daemon import skip_archive_rereads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_only_startup_archives_skip_the_reread(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    tag = uuid.uuid4().hex[:8]
    fixed, later = str(tmp_path / "fixed.zip"), str(tmp_path / "later.zip")
    _write_zip(fixed, [f"wd_fixed_{tag}"])
    _write_zip(later, [f"wd_later_{tag}"])
    skip_archive_rereads(frozenset({fixed}))
    monkeypatch.syspath_prepend(fixed)
    monkeypatch.syspath_prepend(later)
    new = [f"wd_fixed_{tag}", f"wd_fixed_{tag}_2", f"wd_later_{tag}", f"wd_later_{tag}_2"]
    try:
        # both archives get a cached zipimporter, then both are rewritten
        importlib.import_module(f"wd_fixed_{tag}")
        importlib.import_module(f"wd_later_{tag}")
        _write_zip(fixed, [f"wd_fixed_{tag}", f"wd_fixed_{tag}_2"])
        _write_zip(later, [f"wd_later_{tag}", f"wd_later_{tag}_2"])
        importlib.invalidate_caches()
        assert importlib.import_module(f"wd_later_{tag}_2").NAME == f"wd_later_{tag}_2"
        # the start-up archive kept its directory from before the rewrite
        assert importlib.util.find_spec(f"wd_fixed_{tag}_2") is None
    finally:
        for name in new:
            sys.modules.pop(name, None)
        for p in (fixed, later):
            sys.path_importer_cache.pop(p, None)


def _worker_state():
    """A function for a task to call (nested, so it pickles by value): the
    worker's invalidate_caches, its skipped set and the daemon's start-up
    PYTHONPATH."""
    def state():
        fn = zipimport.zipimporter.invalidate_caches
        spec = fn.__globals__.get("__spec__")
        return {"pid": os.getpid(),
                "daemon": spec.name if spec else None,
                "wrapper": fn.__qualname__,
                "skipped": sorted(getattr(fn, "skipped", ())),
                "pythonpath": os.environ.get("PYTHONPATH", ""),
                "sys_path": list(sys.path)}
    return state


def test_patch_is_active_inside_a_task(spark):
    probe = _worker_state()

    def in_task(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"s": [json.dumps(probe())]})

    rows = spark.range(0, 4, numPartitions=2).mapInArrow(in_task, "s string").collect()
    assert len(rows) == 2
    for row in rows:
        st = json.loads(row.s)
        assert st["daemon"] == "geo_epic_spark.worker_daemon"
        assert st["wrapper"] == "skip_archive_rereads.<locals>.invalidate_caches"
        archives = [p for p in st["pythonpath"].split(os.pathsep) if p.endswith((".zip", ".jar"))]
        assert set(archives) <= set(st["skipped"])
        names = [os.path.basename(p) for p in st["skipped"]]
        assert "pyspark.zip" in names
        assert any(n.startswith("py4j") and n.endswith(".zip") for n in names)
        assert any(n.startswith("spark-core_") and n.endswith(".jar") for n in names)


def test_shipped_zip_is_not_skipped_in_a_reused_worker(spark, tmp_path):
    sc = spark.sparkContext
    probe = _worker_state()
    # idle workers are taken oldest first and put back last, so 32 short
    # tasks pass through every idle worker of the pool
    before = {st["pid"] for st in
              sc.parallelize(range(32), 32).map(lambda _: probe()).collect()}

    mod = f"wd_shipped_{uuid.uuid4().hex[:8]}"
    shipped = str(tmp_path / f"{mod}.zip")
    _write_zip(shipped, [mod])
    sc.addPyFile(shipped)

    def imported(_):
        m = importlib.import_module(mod)
        return dict(probe(), name=m.NAME, archive=m.__loader__.archive)

    after = sc.parallelize(range(4), 4).map(imported).collect()
    assert before & {st["pid"] for st in after}, "no task ran in a worker started before the ship"
    for st in after:
        assert st["name"] == mod
        assert os.path.basename(st["archive"]) == f"{mod}.zip"
        assert st["archive"] in st["sys_path"]
        assert st["archive"] not in st["skipped"]
