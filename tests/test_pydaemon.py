"""The Python worker daemon (`nutch_spark.pydaemon`): its zip-directory
guard keeps `invalidate_caches` exact while reading an unchanged archive
once, and `get_spark` sessions fork their workers from it."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

from nutch_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_guard_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zguard_a.py": "X = 1\n"})
    reads = []
    unpatched = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return unpatched(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon._invalidate_caches)
    monkeypatch.setattr(pydaemon, "_read", {})
    monkeypatch.syspath_prepend(archive)
    for mod in ("zguard_a", "zguard_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module("zguard_a").X == 1
    assert pydaemon.installed()
    importer = sys.path_importer_cache[archive]
    reads.clear()

    importer.invalidate_caches()   # unstamped: reads the directory
    importer.invalidate_caches()   # unchanged archive: no read
    importlib.invalidate_caches()
    assert len(reads) == 1

    # a new member changes the archive's size: the next call reads again
    _write_zip(archive, {"zguard_a.py": "X = 1\n", "zguard_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("zguard_b").Y == 2


def test_get_spark_workers_run_under_the_guard(tmp_path):
    """A pandas UDF in a fresh `get_spark` session, driven from outside the
    repository: its worker runs with the guard installed, and the caller's
    spark.executorEnv.PYTHONPATH entry is still on the worker's path."""
    user_dir = str(tmp_path / "user_lib")
    os.mkdir(user_dir)
    script = f"""
import json, sys
sys.path.insert(0, {REPO!r})
import pandas as pd
from pyspark.sql import functions as F
from nutch_spark.session import get_spark

spark = get_spark("pydaemon-test", master="local[2]",
                  extra_conf={{"spark.executorEnv.PYTHONPATH": {user_dir!r}}})

@F.pandas_udf("string")
def probe(s: pd.Series) -> pd.Series:
    import json, sys
    from nutch_spark import pydaemon
    info = json.dumps([pydaemon.installed(), {user_dir!r} in sys.path])
    return s.map(lambda _: info)

rows = spark.range(0, 4, 1, 2).select(probe(F.col("id").cast("string")).alias("p"))
print(json.dumps({{"daemon": spark.conf.get("spark.python.daemon.module"),
                  "workers": sorted({{r.p for r in rows.collect()}})}}))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    p = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path), env=env,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads([ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1])
    assert out["daemon"] == "nutch_spark.pydaemon"
    assert out["workers"] == [json.dumps([True, True])]
