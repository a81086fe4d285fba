"""Python-worker entry point that removes two fixed per-task costs.

``pyspark.worker.main`` runs two pieces of per-task bookkeeping that are
pure overhead for this engine's workload and dominate the latency of
every Python-eval job on this install (measured with the worker's own
boot/init timestamps and /proc socket queues; see OPTIMIZATION_r11.md):

1. ``setup_spark_files`` calls ``importlib.invalidate_caches()`` on
   EVERY task.  With pyspark shipped as ``pyspark.zip`` (the standard
   ``$SPARK_HOME/python/lib`` layout), CPython re-reads the zip central
   directory once per cached zipimporter per call — ~60–150 ms of CPU
   per task, during which the next Arrow batch sits unread in the
   worker's socket.  The invalidation only matters when new py-files
   are shipped to a RUNNING session (``sc.addPyFile``); this engine
   never does that, so it is a semantic no-op here.

2. The daemon's reuse loop runs a FULL ``gc.collect()`` after every
   task (~20 ms with pandas/numpy/pyarrow loaded — the collector walks
   the whole module graph each time).  Freezing the import graph once,
   after the first task, moves those long-lived objects to the
   permanent generation, so the daemon's per-task collection scans only
   the objects the task itself created (CPython's documented pre-fork
   server idiom, applied to the task loop).

Activated via ``spark.python.worker.module=pyspark_graft_worker`` plus
this directory on the worker PYTHONPATH (both wired up by
``multisql_spark.tables.tune_session``, which the repo's session
factory ``multisql_spark.tables.local_session`` calls).  The module
name must keep its ``pyspark`` prefix: ``pyspark.daemon`` only accepts worker
modules whose name starts with ``pyspark``.
"""

import gc
import importlib

import pyspark.worker as _worker

# (1) — worker processes never see mid-session py-file additions here.
# ``setup_spark_files`` resolves ``importlib.invalidate_caches`` at call
# time on the shared module object, so this single patch covers it.
importlib.invalidate_caches = lambda: None

_frozen = False


def main(infile, outfile):
    global _frozen
    try:
        return _worker.main(infile, outfile)
    finally:
        if not _frozen:
            _frozen = True
            # (2) — one full collection to drop import-time cycles, then
            # freeze the surviving module graph so the daemon's per-task
            # gc.collect() has (almost) nothing left to traverse.
            gc.collect()
            gc.freeze()


if __name__ == "__main__":
    # non-daemon launch path (spark.python.use.daemon=false): mirror
    # pyspark.worker's direct-connect entry with this module's main.
    import os

    from pyspark.util import local_connect_and_auth

    conn_info = os.environ.get(
        "PYTHON_WORKER_FACTORY_SOCK_PATH",
        int(os.environ.get("PYTHON_WORKER_FACTORY_PORT", -1)),
    )
    auth_secret = os.environ.get("PYTHON_WORKER_FACTORY_SECRET")
    (sock_file, _) = local_connect_and_auth(conn_info, auth_secret)
    write_int = importlib.import_module("pyspark.serializers").write_int
    write_int(os.getpid(), sock_file)
    sock_file.flush()
    try:
        main(sock_file, sock_file)
    finally:
        sock_file.close()
