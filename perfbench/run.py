#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload audit_month --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(``perfbench/gen.py``) under ``.perfbench_work/`` in the checkout, the
oracle is computed once outside the timed region, then the workload
runs on ``local[<nproc>]`` for ``--seconds`` and every op is checked.
Generation, oracles and checks run in a helper process
(``perfbench/helper.py``) whose memory ``peak_rss_mb`` leaves out.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics of a traced run with ``--trace 1``. The lines
before it print every metric, the workload-specific figures and the
tracing overhead by name and unit. Exits non-zero, printing no result,
when the engine package is not next to ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")


class RssSampler(threading.Thread):
    """Peak memory of this process and all its descendants (JVM, Python
    workers) but the ``skip`` ones and theirs, sampled from /proc on one
    coarse-interval thread. Each process counts its proportional set
    size, so pages that forked Python workers share are counted once,
    not once per worker."""

    def __init__(self, skip: set[int], interval: float = 0.5):
        super().__init__(daemon=True)
        self.skip = skip
        self.interval = interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def _tree_pss_kb(self, root: int) -> int:
        children: dict[int, list[int]] = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p))
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            if pid in self.skip:
                continue
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                pass  # the process ended between listing and reading
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb(os.getpid()))
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop_evt.set()
        self.join()
        return self.peak_kb / 1024


def _setup_env(work: str) -> None:
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM in the tree (launcher and driver) keeps its temp files
    # and perf data out of the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spark_conf(work: str, event_log: str | None) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.etl_sendas.stageDir": os.path.join(work, "stages"),
        # inputs are tens of MB: a 2 GB heap keeps the whole tree small
        # on a shared host
        "spark.driver.memory": "2g",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except (OSError, Py4JError):
        pass  # the connection is already closed
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_sendas_spark")):
        print(f"engine package etl_sendas_spark not found under {ROOT}", file=sys.stderr)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _setup_env(work)
    from perfbench.helper import Helper

    helper = Helper()
    rss = RssSampler(skip={helper.pid})
    rss.start()
    spark = None
    try:
        from perfbench import steal, trace
        from perfbench.workloads import WORKLOADS, Ctx

        from etl_sendas_spark.session import get_spark

        run, layers = WORKLOADS[args.workload]
        event_log = os.path.join(work, "eventlog") if args.trace else None
        ctx = Ctx(spark=None, helper=helper, seed=args.seed, seconds=args.seconds,
                  traced=bool(args.trace), work=work, inputs=os.path.join(work, "inputs"))
        cpu0 = steal.snapshot()
        get_spark_s, spark = steal.timed(lambda: get_spark(
            app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(work, event_log)))
        ctx.spark = spark
        if args.trace:
            ctx.spans = trace.Spans(spark.sparkContext)
            ctx.tagger = trace.ModuleTagger(spark.sparkContext)
        res = run(ctx)
        stolen = steal.stolen_share(cpu0, steal.snapshot())
        app_id = spark.sparkContext.applicationId
        _stop_spark(spark)
        spark = None
        peak_mb = rss.stop()

        ops = res["ops"]
        e2e = {
            "setup_s": (get_spark_s + res["warmup_s"], "s"),
            "op_p50_s": (statistics.median(ops), "s"),
            "rows_per_s": (res["rows_per_s"], "1/s"),
        }
        lines = dict(e2e)
        lines["peak_rss_mb"] = (peak_mb, "MB")
        lines["failed_ratio"] = (res["failed"] / res["attempted"], "ratio")
        lines["ops"] = (len(ops), "count")
        lines["cpu_stolen_share"] = (stolen, "ratio")
        lines.update(res["extra"])
        if args.trace:
            folded = trace.fold_event_log(os.path.join(event_log, app_id))
            layer = layers(ctx, folded, res)
            layer["session.get_spark_s"] = get_spark_s
            traced = res.get("traced_ops")
            if traced:
                layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(ops)
            # a layer this workload does not run reads 0: the prediction
            metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            lines.update((k, (v["value"], v["unit"])) for k, v in metrics.items())
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(f"{args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
        for name, (value, unit) in lines.items():
            print(f"  {name:<50} {float(value):14.4f} {unit}")
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        if rss.is_alive():
            rss.stop()
        helper.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
