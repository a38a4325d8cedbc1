"""The engine's Python worker daemon (``mapreduce_hadoop_spark.pyworker``).

The replacement ``setup_spark_files`` must read exactly the bytes the stock
one reads and flush import caches only on the first task of a worker or
when a task ships Python includes; the daemon must be what a ``get_spark``
session's workers run, from any working directory.
"""

from __future__ import annotations

import glob
import importlib
import io
import json
import os
import re
import subprocess
import sys

import pytest
from pyspark import worker, worker_util
from pyspark.core.files import SparkFiles
from pyspark.serializers import write_int, write_with_length

from mapreduce_hadoop_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAIL = b"next-field"


def task_header(files_dir: str, includes: list[str]) -> bytes:
    """The spark-files fields of a task as the JVM writes them, followed
    by bytes that belong to the next field."""
    buf = io.BytesIO()
    write_with_length(files_dir.encode("utf-8"), buf)
    write_int(len(includes), buf)
    for name in includes:
        write_with_length(name.encode("utf-8"), buf)
    buf.write(TAIL)
    return buf.getvalue()


@pytest.fixture
def worker_state(monkeypatch):
    """Isolate what set-up mutates (sys.path, SparkFiles) and count flushes."""
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(SparkFiles, "_root_directory", SparkFiles._root_directory)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", SparkFiles._is_running_on_worker)
    monkeypatch.setattr(pyworker, "invalidations", 0)
    calls = []
    monkeypatch.setattr(importlib, "invalidate_caches", lambda: calls.append(1))
    return calls


def run_both(header: bytes, calls: list) -> int:
    """Run the stock and the replacement set-up on the same bytes from the
    same sys.path; return the replacement's flush count."""
    path = list(sys.path)
    stock_in = io.BytesIO(header)
    worker_util.setup_spark_files(stock_in)
    stock_path = list(sys.path)
    sys.path[:] = path
    del calls[:]
    ours_in = io.BytesIO(header)
    pyworker.setup_spark_files(ours_in)
    assert ours_in.tell() == stock_in.tell() == len(header) - len(TAIL)
    assert ours_in.read() == TAIL
    assert sys.path == stock_path
    assert pyworker.invalidations == len(calls)
    return len(calls)


def test_first_task_on_worker_flushes_once(tmp_path, worker_state):
    files_dir = str(tmp_path)
    assert files_dir not in sys.path
    assert run_both(task_header(files_dir, []), worker_state) == 1
    assert SparkFiles._root_directory == files_dir


def test_repeat_task_without_includes_skips_flush(tmp_path, worker_state):
    files_dir = str(tmp_path)
    worker_util.add_path(files_dir)
    assert run_both(task_header(files_dir, []), worker_state) == 0


def test_task_with_include_flushes(tmp_path, worker_state):
    files_dir = str(tmp_path)
    worker_util.add_path(files_dir)
    worker_util.add_path(os.path.join(files_dir, "dep.zip"))
    # Already on sys.path from an earlier task: a re-shipped include
    # still flushes.
    assert run_both(task_header(files_dir, ["dep.zip"]), worker_state) == 1


def test_install_replaces_the_mirrored_function(monkeypatch):
    monkeypatch.setattr(worker, "setup_spark_files", worker.setup_spark_files)
    assert pyworker.install()
    assert worker.setup_spark_files is pyworker.setup_spark_files


def fake_setup_spark_files(infile):
    worker_util.utf8_deserializer.loads(infile)


def test_install_falls_back_on_source_mismatch(monkeypatch):
    monkeypatch.setattr(worker_util, "setup_spark_files", fake_setup_spark_files)
    monkeypatch.setattr(worker, "setup_spark_files", fake_setup_spark_files)
    assert not pyworker.install()
    assert worker.setup_spark_files is fake_setup_spark_files


def test_install_falls_back_on_other_pyspark(monkeypatch):
    monkeypatch.setattr(worker, "setup_spark_files", worker.setup_spark_files)
    monkeypatch.setattr(pyworker, "STOCK_SOURCE_SHA256", "0" * 64)
    assert not pyworker.install()
    assert worker.setup_spark_files is worker_util.setup_spark_files


def probe_workers(spark, tasks: int = 8) -> dict[int, tuple[str, int]]:
    """Worker pid -> (daemon module, flushes so far), from a mapInPandas
    task on each of ``tasks`` partitions."""

    def probe(batches):
        import os
        import sys

        import pandas as pd

        for _ in batches:
            pass
        main = sys.modules["__main__"]
        spec = getattr(main, "__spec__", None)
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "daemon": [spec.name if spec else ""],
                "flushes": [getattr(main, "invalidations", -1)],
            }
        )

    rows = (
        spark.range(0, tasks, 1, tasks)
        .mapInPandas(probe, "pid long, daemon string, flushes long")
        .collect()
    )
    return {r.pid: (r.daemon, r.flushes) for r in rows}


def test_reused_workers_flush_at_most_once(spark):
    seen: dict[int, tuple[str, int]] = {}
    for _ in range(4):
        seen.update(probe_workers(spark))
    assert {d for d, _ in seen.values()} == {"mapreduce_hadoop_spark.pyworker"}
    # Fewer processes than tasks: workers were reused.
    assert len(seen) < 4 * 8
    assert all(0 <= f <= 1 for _, f in seen.values()), seen


FOREIGN_CWD_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from mapreduce_hadoop_spark import registry
from mapreduce_hadoop_spark.session import get_spark
from tests.test_pyworker import probe_workers
from tools.check_oracle import value_hash
spark = get_spark("pyworker-cwd", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
pdf = registry.queries()["airport_trips_parity"](spark, sys.argv[2]).toPandas()
daemons = sorted({d for d, _ in probe_workers(spark, 2).values()})
print("RESULT " + json.dumps({"rows": len(pdf), "hash": value_hash(pdf), "daemons": daemons}))
spark.stop()
"""


def gate_entry(scale: str, query: str) -> tuple[int, str]:
    logs = glob.glob(os.path.join(ROOT, f"GATE_{scale}_r*.log"))
    newest = max(logs, key=lambda p: int(re.search(r"_r(\d+)\.log$", p).group(1)))
    pat = re.compile(rf"^\S+\s+{query}: .*?rows=(\d+) hash=([0-9a-f]{{16}})")
    with open(newest) as f:
        for line in f:
            m = pat.match(line)
            if m:
                return int(m.group(1)), m.group(2)
    raise AssertionError(f"{query} not in {newest}")


def test_pandas_udf_from_foreign_cwd(tmp_path, sf_dir):
    """Workers import the daemon and the engine through the session's
    executor PYTHONPATH alone: the application starts in a directory
    outside the repository and its environment carries no PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    out = subprocess.run(
        [sys.executable, "-c", FOREIGN_CWD_SCRIPT, ROOT, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    got = json.loads(lines[-1][len("RESULT "):])
    rows, want = gate_entry("sf0.001", "airport_trips_parity")
    assert (got["rows"], got["hash"]) == (rows, want)
    assert got["daemons"] == ["mapreduce_hadoop_spark.pyworker"]
