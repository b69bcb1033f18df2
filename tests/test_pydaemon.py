"""The worker daemon's stat-guarded zip importer (``pydaemon``): an
unchanged archive is not re-read on ``invalidate_caches()``, a changed or
vanished one still is, and ``get_spark`` sessions run their Python workers
from this daemon from any driver cwd."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from aind_hcr_data_transformation_spark import pydaemon

REPO = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_keeps_its_directory(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    pydaemon.invalidate_caches(imp)  # first call reads and stamps
    files = imp._files
    for _ in range(3):
        pydaemon.invalidate_caches(imp)
    assert imp._files is files


def test_held_importers_skip_the_first_reread(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    monkeypatch.setitem(sys.path_importer_cache, str(archive), imp)
    pydaemon.stamp_held_importers()
    files = imp._files
    pydaemon.invalidate_caches(imp)
    assert imp._files is files


def test_rewritten_archive_is_reread(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    pydaemon.invalidate_caches(imp)
    assert imp.find_spec("b") is None
    os.remove(archive)  # a new inode, like an archive replaced in place
    _write_zip(archive, {"a": "X = 1\n", "b": "Y = 2\n"})
    pydaemon.invalidate_caches(imp)
    spec = imp.find_spec("b")
    assert spec is not None
    mod = type(sys)("b")
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_deleted_archive_runs_the_original(tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"a": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    pydaemon.invalidate_caches(imp)
    os.remove(archive)
    pydaemon.invalidate_caches(imp)  # the stock method empties the directory
    assert imp._files == {}
    assert imp.find_spec("a") is None


def test_get_spark_sessions_carry_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == pydaemon.__name__
    assert str(REPO) in conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)


def test_task_invalidate_caches_keeps_zip_directories(spark):
    """In a Python worker of a ``get_spark`` session, the per-task
    ``importlib.invalidate_caches()`` leaves every zip importer's
    directory object as it was (the stock daemon re-reads them all)."""
    import pyarrow as pa

    def probe(batches):
        import importlib

        held = [
            (f, f._files)
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        importlib.invalidate_caches()
        kept = sum(f._files is files for f, files in held)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"zips": len(held), "kept": kept}])

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInArrow(probe, "zips long, kept long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.zips > 0
        assert r.kept == r.zips


_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from aind_hcr_data_transformation_spark.config import ZarrConversionSettings
from aind_hcr_data_transformation_spark.pipeline import convert_synthetic_stacks
from aind_hcr_data_transformation_spark.session import get_spark
from aind_hcr_data_transformation_spark.sinks.zarr_sink import read_array
from aind_hcr_data_transformation_spark.sources.czi import synthetic_ramp_block

spark = get_spark("foreign-cwd", master="local[1]")
settings = ZarrConversionSettings(
    output_directory={out!r}, chunk_size=(8, 8, 8), downsample_levels=2
)
group = convert_synthetic_stacks(spark, settings, {{"s": (8, 16, 16)}})["s"]
level0 = read_array(group + "/0")[0, 0]
print("RAMP", (level0 == synthetic_ramp_block(0, 8, 0, 16, 0, 16)).all())
spark.stop()
"""


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver started outside the checkout (package on the driver's
    ``sys.path`` only) still runs a conversion, whose ``mapInArrow``
    tasks call package functions: the workers find the package through
    the session's worker path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    script = _FOREIGN_CWD_SCRIPT.format(repo=str(REPO), out=str(tmp_path / "out"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "RAMP True" in proc.stdout, proc.stderr[-3000:]
