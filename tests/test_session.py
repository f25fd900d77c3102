"""get_spark's default driver heap, computed without starting a session."""

import os

from blacklab_spark import session


def _host(monkeypatch, gib):
    pages = {"SC_PHYS_PAGES": gib << 18, "SC_PAGE_SIZE": 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])


def test_default_driver_heap_is_half_the_host(monkeypatch):
    _host(monkeypatch, 16)
    assert session._default_driver_memory() == "8192m"


def test_default_driver_heap_capped_at_64g(monkeypatch):
    _host(monkeypatch, 512)
    assert session._default_driver_memory() == "65536m"


def test_default_driver_heap_without_sysconf(monkeypatch):
    def missing(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", missing)
    assert session._default_driver_memory() == "64g"


_WORKER_IMPORT = """
import sys
sys.path.insert(0, {repo!r})
from blacklab_spark.session import get_spark

def imports(batches):
    import pyarrow as pa
    import blacklab_spark
    for _ in batches:
        yield pa.RecordBatch.from_pydict({{"ok": [blacklab_spark.__name__]}})

spark = get_spark("worker-import", cores=1, shuffle_partitions=1,
                  driver_memory="512m")
print("ROWS", spark.range(1).mapInArrow(imports, "ok string").collect())
spark.stop()
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    # a driver launched outside the repo, with no PYTHONPATH: the Python
    # workers start in that directory and must still import blacklab_spark
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_IMPORT.format(repo=repo)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "ROWS [Row(ok='blacklab_spark')]" in out.stdout, out.stderr[-3000:]
