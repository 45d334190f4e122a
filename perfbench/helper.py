"""A child Python process for the benchmark's own data work.

Input generation, the DuckDB oracles and the per-op output digests run
here, not in the benchmark's driver process, so the memory that pyarrow
and DuckDB allocate and keep is not counted in the program's
``peak_rss_mb``: the RSS sampler skips this process.

    helper = Helper()
    oracle = helper.call(oracles.audit_oracle, sf_dir)
    helper.close()

A call pickles ``(module, function name, args)`` to the child's stdin and
reads the pickled result from its stdout; the child's own prints go to
stderr.
"""

from __future__ import annotations

import importlib
import os
import pickle
import subprocess
import sys


class Helper:
    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.helper"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        self.pid = self.proc.pid

    def call(self, fn, *args):
        pickle.dump((fn.__module__, fn.__name__, args), self.proc.stdin)
        self.proc.stdin.flush()
        ok, out = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(f"{fn.__module__}.{fn.__name__} failed in the helper:\n{out}")
        return out

    def close(self) -> None:
        """End the child (it exits on EOF) and wait for it."""
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def _serve() -> None:
    import traceback

    results = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # a stray print must not corrupt the result stream
    requests = sys.stdin.buffer
    while True:
        try:
            mod, name, args = pickle.load(requests)
        except EOFError:
            return
        try:
            reply = (True, getattr(importlib.import_module(mod), name)(*args))
        except Exception:  # reported to the caller, which raises it
            reply = (False, traceback.format_exc())
        pickle.dump(reply, results)
        results.flush()


if __name__ == "__main__":
    _serve()
