"""Where Python workers import ``quanta_spark`` from. ``get_spark``
ships a package installed as a directory one way, in local mode as on
a cluster: the ``addPyFile`` zip. A driver started outside the repo,
with no ``PYTHONPATH``, must get workers that import the package from
that zip with every zip finder pinned, and ``get_spark`` must leave
the driver's environment as it found it. ``get_spark`` runs no Spark
job: workers start with the first stage that needs them, and
unpickling an engine function pins their zip finders. The zip's temp
dir is gone once the driver exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
import json, os, sys
sys.path.insert(0, {repo!r})  # driver-side import only
from quanta_spark import get_spark
from quanta_spark.operators.stages import Stage, apply_chain

def zip_finders(pdf):  # never imports quanta_spark itself
    import zipimport
    pdf["text"] = json.dumps({{p: type(f).__name__ for p, f in sys.path_importer_cache.items()
                             if isinstance(f, zipimport.zipimporter)}})
    return pdf

def probe(it):
    import zipimport
    import quanta_spark
    finders = [type(f).__name__ for f in sys.path_importer_cache.values()
               if isinstance(f, zipimport.zipimporter)]
    for pdf in it:
        pdf["file"] = quanta_spark.__file__
        pdf["finders"] = json.dumps(finders)
        yield pdf

spark = get_spark(cores=2)
jobs = list(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
texts = spark.range(0, 2, 1, 2).selectExpr("CAST(id AS STRING) AS text")
staged = apply_chain(texts, [Stage(name="zip_finders", batch_fn=zip_finders)]).collect()
rows = (spark.range(0, 2, 1, 2)
        .mapInPandas(probe, "id long, file string, finders string").collect())
print("ORIGIN " + json.dumps({{
    "jobs": jobs,
    "stage": [json.loads(r.text) for r in staged],
    "pythonpath": os.environ.get("PYTHONPATH"),
    "workers": [[r.file, json.loads(r.finders)] for r in rows],
}}))
spark.stop()
"""


def test_workers_import_the_shipped_zip(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["TMPDIR"] = str(tmp_path / "tmp")
    os.mkdir(env["TMPDIR"])
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(repo=REPO)],
        cwd=str(tmp_path),  # NOT the repo: workers must not find it on their path
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    marker = [ln for ln in proc.stdout.splitlines() if ln.startswith("ORIGIN ")]
    assert marker, proc.stdout[-2000:]
    res = json.loads(marker[-1].removeprefix("ORIGIN "))
    assert len(res["workers"]) == 2
    for file, finders in res["workers"]:
        assert f"quanta_spark_pkg.zip{os.sep}quanta_spark{os.sep}" in file, file
        assert finders and set(finders) == {"_PinnedZipImporter"}, finders
    assert res["pythonpath"] is None
    assert res["jobs"] == [], "get_spark must start no Spark job"
    assert len(res["stage"]) == 2
    for finders in res["stage"]:
        names = [os.path.basename(p) for p in finders]
        assert "pyspark.zip" in names, finders
        assert any(n.startswith("py4j-") and n.endswith(".zip") for n in names), finders
        assert any(n.startswith("spark-core") and n.endswith(".jar") for n in names), finders
        assert set(finders.values()) == {"_PinnedZipImporter"}, finders
    assert not [n for n in os.listdir(env["TMPDIR"]) if n.startswith("quanta_pyfiles_")]
