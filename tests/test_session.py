"""session.get_spark: Python workers can import the package from any
working directory (the worker PYTHONPATH conf), and a caller's extra_conf
still overrides it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from lakehouse_architecture_for_realestatedata_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "spark.executorEnv.PYTHONPATH"


def test_worker_pythonpath_conf(monkeypatch):
    parent = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session._session_conf("local[1]", 1, None)[KEY] == parent
    monkeypatch.setenv("PYTHONPATH", "/srv/extra")
    conf = session._session_conf("local[1]", 1, None)
    assert conf[KEY] == os.pathsep.join([parent, "/srv/extra"])
    conf = session._session_conf("local[1]", 1, {KEY: "/caller/path"})
    assert conf[KEY] == "/caller/path"


_KERNEL_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import random
from lakehouse_architecture_for_realestatedata_spark.session import get_spark
from lakehouse_architecture_for_realestatedata_spark.operators.similarity import (
    ivf_knn_frozen_quantized,
)
spark = get_spark("cwd-probe", master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.driver.memory": "1g"}})
rnd = random.Random(3)
rows = [(i, [rnd.uniform(-1, 1) for _ in range(4)]) for i in range(50)]
corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
cents = spark.createDataFrame(rows[:2], "cell bigint, embedding array<double>")
out = ivf_knn_frozen_quantized(corpus, cents, corpus.filter("vec_id < 2"), k=3, n_probe=2)
print("ROWS", out.count())
spark.stop()
"""


def test_worker_kernel_runs_from_foreign_cwd(tmp_path):
    """A mapInArrow kernel (ivf_knn_frozen_quantized) run by a driver whose
    working directory is NOT the repo and whose PYTHONPATH does not name
    it: the workers unpickle the kernel by module reference, so without
    the worker PYTHONPATH conf they die with ModuleNotFoundError."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "spark-local")
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(_KERNEL_SCRIPT.format(repo=REPO))],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 6" in proc.stdout
