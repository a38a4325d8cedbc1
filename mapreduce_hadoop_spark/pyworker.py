"""Python worker daemon: PySpark's own, minus a per-task import-cache flush.

Spark starts it as ``python -m mapreduce_hadoop_spark.pyworker`` (set by
``spark.python.daemon.module`` in ``session.DEFAULT_CONF``), so in the
daemon and its forked workers this module is ``__main__``.

Every task begins with ``worker_util.setup_spark_files``, which ends in an
unconditional ``importlib.invalidate_caches()``. On Python 3.11 and 3.12
that makes each zipimporter re-read its archive's central directory
(pyspark.zip: 1,328 entries), about 0.12 s per task. The replacement below
reads the same wire fields and flushes only when the task shipped a Python
include or ``sys.path`` changed, which is the first task on a worker or an
``addPyFile`` session. It is installed only over the exact function it
mirrors; on any other PySpark the stock daemon runs untouched.
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import os
import sys

from pyspark import worker, worker_util
from pyspark.serializers import read_int
from pyspark.util import is_remote_only

# sha256 of inspect.getsource(worker_util.setup_spark_files), PySpark 4.1.
STOCK_SOURCE_SHA256 = "fdbcb9682a6c733a3337a7374713f2d8ef7d08388a91f542b77670a31aa28d43"

# Flushes done in this process; forked workers inherit the daemon's 0.
invalidations = 0


def setup_spark_files(infile) -> None:
    global invalidations
    path_before = list(sys.path)
    spark_files_dir = worker_util.utf8_deserializer.loads(infile)
    if not is_remote_only():
        from pyspark.core.files import SparkFiles

        SparkFiles._root_directory = spark_files_dir
        SparkFiles._is_running_on_worker = True
    worker_util.add_path(spark_files_dir)
    num_python_includes = read_int(infile)
    for _ in range(num_python_includes):
        filename = worker_util.utf8_deserializer.loads(infile)
        worker_util.add_path(os.path.join(spark_files_dir, filename))
    if num_python_includes or sys.path != path_before:
        importlib.invalidate_caches()
        invalidations += 1


def install() -> bool:
    """Swap the replacement into ``pyspark.worker`` when the running PySpark
    binds it to the exact function mirrored here; else change nothing."""
    stock = worker_util.setup_spark_files
    if worker.setup_spark_files is not stock:
        return False
    try:
        source = inspect.getsource(stock)
    except (OSError, TypeError):
        return False
    if hashlib.sha256(source.encode()).hexdigest() != STOCK_SOURCE_SHA256:
        return False
    worker.setup_spark_files = setup_spark_files
    return True


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()
