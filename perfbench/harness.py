"""Engine-side plumbing shared by every workload: the benchmark-owned state
root, the Spark session on a pinned local master, process-tree memory
sampling, the committed gate hashes, and a clean shutdown of the JVM and
its Python workers.

Nothing here imports pyspark or the engine at module import time: the
environment (worker PYTHONPATH, temp dirs, index dir) must be in place
before the JVM is launched.
"""

from __future__ import annotations

import glob
import os
import platform
import re
import shutil
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, "data")
# Run-time files (state roots, sidecars) live here, inside the checkout.
RUN_DIR = os.path.join(ROOT, ".perfbench")

class CheckoutError(RuntimeError):
    """The directory the benchmark runs in does not hold the engine."""


def check_checkout(scale: str) -> str:
    """Fail before any Spark work unless the engine, the oracle helpers
    and a gate log for ``scale`` are present; return the gate log path."""
    for rel in ("mapreduce_hadoop_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise CheckoutError(f"{rel} missing under {ROOT}")
    return newest_gate_log(scale)


def newest_gate_log(scale: str) -> str:
    logs = glob.glob(os.path.join(ROOT, f"GATE_{scale}_r*.log"))
    ranked = []
    for path in logs:
        m = re.fullmatch(rf"GATE_{re.escape(scale)}_r(\d+)\.log", os.path.basename(path))
        if m:
            ranked.append((int(m.group(1)), path))
    if not ranked:
        raise CheckoutError(f"no GATE_{scale}_r*.log under {ROOT}")
    return max(ranked)[1]


def read_gate(path: str) -> dict[str, tuple[int, str]]:
    """Query name -> (rows, value hash) from a committed gate log."""
    out = {}
    pat = re.compile(r"^(?:PASS|ok\?)\s+(\S+): .*?rows=(\d+) hash=([0-9a-f]{16})")
    with open(path) as f:
        for line in f:
            m = pat.match(line)
            if m:
                out[m.group(1)] = (int(m.group(2)), m.group(3))
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class StateRoot:
    """A fresh directory the benchmark owns for one run: ANN index, staged
    inputs, Spark local dirs, temp files and the event log. The repo's own
    ``.ann_index``, ``.scale_data`` and ``.stream_stage`` are never used."""

    def __init__(self) -> None:
        os.makedirs(RUN_DIR, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="state-", dir=RUN_DIR)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("local")
        os.environ["SPARK_GRAFT_INDEX_DIR"] = self.sub("ann_index")
        # Python workers unpickle engine functions by module path, so the
        # package must be importable there whatever the working directory.
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def sub(self, *parts: str) -> str:
        path = os.path.join(self.path, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def fresh(self, name: str) -> str:
        path = os.path.join(self.path, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def spark_conf(state: StateRoot, event_log: str | None = None) -> dict[str, str]:
    conf = {
        # The engine's default 16g heap would let the JVM grow far past
        # what sf0.01 needs on a shared host.
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={state.tmp} -XX:-UsePerfData",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": state.sub("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_spark(state: StateRoot, event_log: str | None = None):
    """A session on ``local[nproc]`` with nproc shuffle partitions."""
    from mapreduce_hadoop_spark.session import get_spark

    n = nproc()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=spark_conf(state, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Close the py4j gateway and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_children(timeout=20)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def wait_children(timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        pids = descendants(os.getpid())
        if not pids:
            return
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    for _ in range(50):
        if not descendants(os.getpid()):
            return
        time.sleep(0.1)


def tree_peak_rss(pid: int) -> dict[int, tuple[str, int]]:
    """pid -> (command name, peak RSS bytes) for ``pid`` and its live
    descendants: the kernel's high-water mark (VmHWM), so nothing has to
    poll the tree while ops run. Short-lived copies the JVM forks to run
    shell commands are gone by the time this is read and are not counted."""
    out = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[p] = (comm, int(line.split()[1]) * 1024)
                        break
        except OSError:
            continue
    return out


def table_stats(data_dir: str) -> dict[str, dict[str, int]]:
    import pyarrow.parquet as pq

    out = {}
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        out[name] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return out


def host_record(seed: int, data_dir: str) -> dict:
    import pyspark

    from tools.check_oracle import src_hash

    commit = None
    # Only a checkout that is itself a git work tree has a commit; never
    # let git search the parent directories.
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "git_commit": commit,
        "src_hash": src_hash(),
        "inputs": table_stats(data_dir),
    }

