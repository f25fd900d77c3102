"""Starting and stopping the engine's Spark session for one benchmark run.

Everything a run writes lives under ``WORK`` inside the checkout: the index,
Spark's local dir, temp files and the shipped copy of the package.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
PACKAGE = "blacklab_spark"


class MissingProgram(RuntimeError):
    pass


def require_program() -> None:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise MissingProgram(f"{ROOT / PACKAGE} not found: nothing to benchmark")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def package_zip(dest: Path) -> Path:
    """Zip the package so executors import it whatever their cwd is."""
    with zipfile.ZipFile(dest, "w") as z:
        for path in sorted((ROOT / PACKAGE).rglob("*.py")):
            z.write(path, path.relative_to(ROOT).as_posix())
    return dest


def start_session(work: Path, cores: int):
    """A local[cores] session through the engine's own ``get_spark``, its
    Python workers started."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    tmp = str(work / "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_LOCAL_DIR": str(work / "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # no hsperfdata under /tmp
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # the traced run reads every job and stage of the run back
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf {shlex.quote('spark.sql.warehouse.dir=' + str(work / 'warehouse'))}",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    })
    from blacklab_spark import get_spark

    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                      driver_memory="2g")
    spark.sparkContext.addPyFile(str(package_zip(work / f"{PACKAGE}.zip")))
    warm_workers(spark, cores)
    return spark


def warm_workers(spark, cores: int) -> None:
    """Run one job that starts a Python worker per core and imports the
    package there, so the first timed job does not pay for either."""
    def load(batches):
        import blacklab_spark.tokenizer  # noqa: F401

        yield from batches

    df = spark.range(cores, numPartitions=cores)
    df.mapInArrow(load, df.schema).collect()


def descendants(root: int | None = None) -> list[int]:
    """Live processes below ``root`` (default: this process)."""
    root = root or os.getpid()
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stat = Path(f"/proc/{entry}/stat").read_text()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            if fields[0] != "Z":
                parent[int(entry)] = int(fields[1])
    found, frontier = [], [root]
    while frontier:
        nxt = [p for p, pp in parent.items() if pp in frontier]
        found += nxt
        frontier = nxt
    return found


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over this process and ``pids``."""
    total_kb = 0
    for pid in [os.getpid(), *pids]:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, its JVM and the Python workers, and wait until all ended."""
    pids = descendants()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    deadline = time.time() + timeout
    alive = pids
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        os.kill(p, signal.SIGKILL)


def _running(pid: int) -> bool:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"
