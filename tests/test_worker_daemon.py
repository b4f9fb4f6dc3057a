"""Python workers under ``get_spark`` import the installed pyspark, not the
zipped copies Spark puts first on their path (``worker_daemon``)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd

from spark_state_provider_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_origin(batches):
    import sys
    import zipimport

    import pyspark

    for _ in batches:
        pass
    zipimporters = [
        k
        for k, v in sys.path_importer_cache.items()
        if isinstance(v, zipimport.zipimporter)
    ]
    origin = {"pyspark": pyspark.__file__, "zipimporters": zipimporters, "path": sys.path}
    yield pd.DataFrame({"v": [json.dumps(origin)]})


def test_workers_import_installed_pyspark(spark):
    assert spark.sparkContext.pythonExec == sys.executable
    rows = spark.range(4).repartition(2).mapInPandas(_worker_origin, "v string")
    for row in rows.collect():
        origin = json.loads(row.v)
        assert os.path.isfile(origin["pyspark"]), origin["pyspark"]
        assert ".zip" not in origin["pyspark"] and ".jar" not in origin["pyspark"]
        assert origin["zipimporters"] == []
        spark_archives = [
            p
            for p in origin["path"]
            if "pyspark.zip" in p or "py4j" in p or p.endswith(".jar")
        ]
        assert spark_archives == []


_OUTSIDE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from spark_state_provider_spark.session import get_spark


def double(batches):
    for b in batches:
        yield pd.DataFrame({{"x": b["id"] * 2}})


spark = get_spark(master="local[2]", extra_conf={{"spark.driver.memory": "1g"}})
print(sorted(r.x for r in spark.range(3).mapInPandas(double, "x long").collect()))
spark.stop()
"""


def test_workers_start_outside_the_repo(tmp_path):
    """The daemon module is found from any working directory: the
    package's parent rides on ``spark.executorEnv.PYTHONPATH``."""
    script = tmp_path / "outside.py"
    script.write_text(_OUTSIDE_SCRIPT.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[0, 2, 4]"


def test_daemon_conf_guard(monkeypatch):
    keys = {"spark.python.daemon.module", "spark.executorEnv.PYTHONPATH"}

    monkeypatch.setattr(session, "_zip_pyspark_version", lambda: session.pyspark.__version__)
    conf = session.python_worker_conf()
    assert conf["spark.pyspark.python"] == sys.executable
    assert conf["spark.python.daemon.module"] == session.WORKER_DAEMON
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO
    # another interpreter may hold another pyspark: leave its workers alone
    assert keys.isdisjoint(session.python_worker_conf("python3"))

    monkeypatch.setattr(session, "_zip_pyspark_version", lambda: "0.0.0")
    assert keys.isdisjoint(session.python_worker_conf())

    monkeypatch.setattr(session, "_zip_pyspark_version", lambda: session.pyspark.__version__)
    monkeypatch.setattr(
        session.pyspark, "__file__", "/spark/python/lib/pyspark.zip/pyspark/__init__.py"
    )
    assert keys.isdisjoint(session.python_worker_conf())
