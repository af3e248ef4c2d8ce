"""Python-worker daemon for the traced run.

Runs pyspark's own daemon after installing an import hook that wraps
``mysteryann_spark.sources.staging.load_staged`` in every forked worker.
``load_staged`` runs only on executors, so a driver-side wrapper would
never see it. Each call appends one JSON line (start, end, whether the
artifact was built) to a per-process file under
``$PERFBENCH_WORKER_TRACE_DIR``; the driver reads them after the run.

Selected with ``spark.python.daemon.module=worker_daemon`` when this
directory is on the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

import importlib.abc
import importlib.util
import json
import os
import sys
import time

TARGET = "mysteryann_spark.sources.staging"


def _wrap(mod) -> None:
    orig = mod.load_staged
    out_dir = os.environ["PERFBENCH_WORKER_TRACE_DIR"]

    def load_staged(key, build):
        built = []

        def counted_build():
            built.append(True)
            return build()

        t0 = time.time()
        try:
            return orig(key, counted_build)
        finally:
            line = json.dumps({"t0": t0, "t1": time.time(), "built": bool(built)}) + "\n"
            path = os.path.join(out_dir, f"{os.getpid()}.jsonl")
            fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
            try:
                os.write(fd, line.encode())
            finally:
                os.close(fd)

    mod.load_staged = load_staged


class _Hook(importlib.abc.MetaPathFinder):
    def find_spec(self, name, path, target=None):
        if name != TARGET:
            return None
        sys.meta_path.remove(self)
        spec = importlib.util.find_spec(name)
        exec_module = spec.loader.exec_module

        def exec_and_wrap(module):
            exec_module(module)
            _wrap(module)

        spec.loader.exec_module = exec_and_wrap
        return spec


if __name__ == "__main__":
    sys.meta_path.insert(0, _Hook())
    from pyspark import daemon

    daemon.manager()
