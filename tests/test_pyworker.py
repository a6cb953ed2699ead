"""The local Python daemon (``polkadot_etl_spark.pyworker``): its path
rule without Spark, the workers of the suite's session, and a driver
started outside the repo."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pyspark
import pytest

from polkadot_etl_spark.pyworker import compiled_path

REPO = Path(__file__).resolve().parents[1]


def _spark_home(root: Path, version: str) -> tuple[Path, list[str]]:
    """A SPARK_HOME whose pyspark.zip carries ``version``, and the
    archive entries Spark would put on a worker's path."""
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")
    jar = root / "jars" / "spark-core.jar"
    return root, [str(lib / "pyspark.zip"), str(lib / "py4j-src.zip"), str(jar)]


def test_same_version_drops_the_archives(tmp_path):
    home, archives = _spark_home(tmp_path, pyspark.__version__)
    assert compiled_path(archives + sys.path, str(home)) == sys.path


def test_other_version_keeps_the_archives(tmp_path):
    home, archives = _spark_home(tmp_path, "0.0.1")
    path = archives + sys.path
    assert compiled_path(path, str(home)) == path


@pytest.mark.parametrize("missing", ["pyspark", "py4j"])
def test_archives_stay_when_a_package_resolves_only_from_them(tmp_path, missing):
    home, archives = _spark_home(tmp_path / "spark", pyspark.__version__)
    # besides the archives: the standard library, plus a same-version
    # pyspark without py4j when py4j is the missing one
    stdlib = os.path.dirname(os.__file__)
    path = archives + [stdlib]
    if missing == "py4j":
        pkg = tmp_path / "site" / "pyspark"
        pkg.mkdir(parents=True)
        (pkg / "__init__.py").write_text("")
        (pkg / "version.py").write_text(f"__version__ = {pyspark.__version__!r}\n")
        path.append(str(pkg.parent))
    assert compiled_path(path, str(home)) == path


def test_local_workers_run_the_drivers_compiled_pyspark(spark):
    import json

    def worker_view(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        zips = [
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        view = {
            "file": pyspark.__file__,
            "version": pyspark.__version__,
            "spark_home": os.environ.get("SPARK_HOME"),
            "path": sys.path,
            "zips": zips,
        }
        yield pd.DataFrame({"view": [json.dumps(view)]})

    row = spark.range(0, 1, 1, 1).mapInPandas(worker_view, "view string").first()
    view = json.loads(row.view)
    home = os.path.join(os.path.realpath(view["spark_home"]), "")
    assert os.path.isfile(view["file"]), view["file"]
    assert not os.path.realpath(view["file"]).startswith(home), view["file"]
    assert view["version"] == pyspark.__version__
    under_home = [
        p for p in view["path"] + view["zips"] if os.path.realpath(p).startswith(home)
    ]
    assert not under_home, under_home


def test_driver_outside_the_repo_runs_python_tasks(tmp_path):
    """The daemon module is found by path, not by the driver's cwd: a
    driver started elsewhere with PYTHONPATH unset still runs a Python
    stage."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from polkadot_etl_spark.session import get_spark

        spark = get_spark(app_name="pyworker-outside-repo", master="local[1]")
        rows = spark.range(0, 3, 1, 1).mapInPandas(lambda it: it, "id long").collect()
        print("ids", sorted(r.id for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ids [0, 1, 2]" in proc.stdout, proc.stdout[-2000:]
