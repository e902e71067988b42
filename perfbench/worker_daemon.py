"""Spark's Python worker daemon, logging every worker it starts.

A traced run points ``spark.python.daemon.module`` here. The module runs
``pyspark.daemon`` unchanged, except that each forked worker appends its
pid to the file named by ``$PERFBENCH_WORKER_LOG`` before its first
task. The log's line count is therefore the exact number of Python
workers started, however briefly each one lived.
"""

from __future__ import annotations

import os

from pyspark import daemon

LOG_ENV = "PERFBENCH_WORKER_LOG"

_worker = daemon.worker
# False in the daemon, so every forked child starts with it False.
_logged = False


def _logging_worker(sock, authenticated):
    global _logged
    if not _logged:
        _logged = True
        fd = os.open(os.environ[LOG_ENV], os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        try:
            os.write(fd, b"%d\n" % os.getpid())
        finally:
            os.close(fd)
    return _worker(sock, authenticated)


if __name__ == "__main__":
    daemon.worker = _logging_worker
    daemon.manager()
