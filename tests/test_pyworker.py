"""The Python-worker daemon (roapi_spark/pyworker.py): Spark's own archives
skip the per-task zip directory re-read; every other archive is still
invalidated; workers find the daemon wherever the driver started."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from roapi_spark import pyworker
from roapi_spark.session import ROOT


def test_spark_archives_match_real_paths_under_spark_home(tmp_path):
    real_home = tmp_path / "spark-9.9"
    (real_home / "lib").mkdir(parents=True)
    (real_home / "lib" / "pyspark.zip").write_bytes(b"")
    (real_home / "lib" / "pkgdir").mkdir()
    outside = tmp_path / "user.zip"
    outside.write_bytes(b"")
    home = tmp_path / "spark"
    home.symlink_to(real_home)
    path = [
        str(home / "lib" / "pyspark.zip"),  # through the symlink
        str(home / "lib" / "pkgdir"),  # a directory, not an archive
        str(outside),
        "",  # the working directory
    ]
    got = pyworker.spark_archives(path, str(home))
    assert got == {str(real_home / "lib" / "pyspark.zip")}
    assert pyworker.spark_archives(path, "") == frozenset()


def test_worker_skips_only_spark_archive_rereads(spark):
    def probe(it):
        """Runs inside a Python worker (nested, so it pickles by value)."""
        import importlib
        import tempfile
        import uuid
        import zipimport

        import pandas as pd

        from roapi_spark.pyworker import installed

        for _ in it:
            pass
        skipped = installed()
        spark_importers = [
            imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and os.path.realpath(imp.archive) in skipped
        ]
        before = [imp._files for imp in spark_importers]
        importlib.invalidate_caches()
        kept = bool(spark_importers) and all(
            imp._files is files for imp, files in zip(spark_importers, before)
        )

        # a user archive changed under a live importer is still re-read
        tag = uuid.uuid4().hex
        with tempfile.TemporaryDirectory() as d:
            archive = os.path.join(d, "user.zip")
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr(f"first_{tag}.py", "X = 1\n")
            sys.path.append(archive)
            try:
                importlib.import_module(f"first_{tag}")
                with zipfile.ZipFile(archive, "a") as z:
                    z.writestr(f"second_{tag}.py", "X = 2\n")
                importlib.invalidate_caches()
                reread = importlib.import_module(f"second_{tag}").X == 2
            finally:
                sys.path.remove(archive)
                sys.path_importer_cache.pop(archive, None)
        yield pd.DataFrame(
            {
                "n_skipped": [len(skipped)],
                "n_spark_importers": [len(spark_importers)],
                "spark_files_kept": [kept],
                "user_zip_reread": [reread],
            }
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(
            probe,
            "n_skipped long, n_spark_importers long, "
            "spark_files_kept boolean, user_zip_reread boolean",
        )
        .collect()[0]
    )
    assert row.n_skipped > 0, "the daemon's patch is not installed"
    assert row.n_spark_importers > 0
    assert row.spark_files_kept
    assert row.user_zip_reread


SUBPROCESS_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from roapi_spark.session import get_spark

def probe(it):
    from roapi_spark.pyworker import installed
    for _ in it:
        pass
    yield pd.DataFrame({"n": [len(installed())]})

spark = get_spark("pyworker-probe", master="local[1]")
print("SKIPPED", spark.range(1).mapInPandas(probe, "n long").collect()[0].n)
spark.stop()
"""


def test_workers_find_daemon_from_any_cwd_without_pythonpath(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.setdefault("SPARK_LOCAL_DIRS", str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", SUBPROCESS_PROBE, ROOT],
        cwd=tmp_path,  # outside the checkout
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    skipped = [ln for ln in out.stdout.splitlines() if ln.startswith("SKIPPED")]
    assert skipped and int(skipped[0].split()[1]) > 0, out.stdout[-2000:]
