#!/usr/bin/env python3
"""Self-checks for the benchmark's own code (no Spark needed):

- the input generator is deterministic per seed and varies across seeds;
- the event-log folder turns a canned log into the expected totals;
- BENCHMARK.json lists the workloads and per-layer metrics that
  perfbench/layers.json describes, and every workload has a generator.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work", "selfcheck")


def _digest(d: str) -> dict[str, str]:
    out = {}
    for r, _, fs in os.walk(d):
        for f in fs:
            p = os.path.join(r, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def check_generator_determinism() -> None:
    for name, fn in gen.GENERATORS.items():
        runs = {}
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(WORK, f"{name}-{tag}")
            shutil.rmtree(d, ignore_errors=True)
            fn(seed, d)
            runs[tag] = _digest(d)
        assert runs["a"] and runs["a"] == runs["b"], f"{name}: same seed, different bytes"
        assert runs["a"] != runs["c"], f"{name}: seeds 7 and 8 gave identical inputs"


def check_corpus_labels() -> None:
    info = gen.gen_corpus(3, os.path.join(WORK, "labels"))
    labels, n = info["labels"], gen.CORPUS_WAVE_DOCS
    assert [sum(w.values()) for w in labels] == [n] * gen.CORPUS_WAVES
    assert labels[0]["exact"] == labels[0]["near"] == 0
    share = {k: round(v * n) for k, v in gen.CORPUS_SHARES.items()}
    assert all(w == share for w in labels[1:])
    assert all(b > 0 for b in info["fresh_bytes"])


def check_event_log_folder() -> None:
    folded = trace.fold_event_log(os.path.join(HERE, "testdata", "eventlog.jsonl"))
    g = folded["by_group"]["pb-0"]
    assert g["jobs"] == 1 and g["tasks"] == 2
    assert abs(g["job_s"] - 2.0) < 1e-9
    assert abs(g["task_cpu_s"] - 3.0) < 1e-9
    assert abs(g["gc_s"] - 0.1) < 1e-9
    assert abs(g["fetch_wait_s"] - 0.05) < 1e-9
    assert abs(g["scheduler_delay_s"] - 0.5) < 1e-9
    assert g["spill_mb"] == 1.0 and g["shuffle_write_mb"] == 2.0 and g["output_mb"] == 1.0
    rows, mb = trace.python_metrics(g, "MapInPandas")
    assert rows == 10 and mb == 1.5
    # module attribution is inclusive over the tagged chain
    assert folded["by_module"]["materialize"] == folded["by_module"]["operators.dedupe"] == g
    # the untagged job counts only engine-wide
    assert folded["all"]["jobs"] == 2 and folded["all"]["tasks"] == 3
    assert abs(folded["all"]["scheduler_delay_s"] - 0.75) < 1e-9
    wide = trace.engine_wide(folded["all"], 2)
    assert wide["spark.tasks"] == 1.5
    assert trace.engine_module("/x/etl_sendas_spark/plans/corpus_refresh.py") == "plans.corpus_refresh"
    assert trace.engine_module("/x/perfbench/run.py") is None


def check_spec() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    workloads = {w["name"] for w in spec["workloads"]}
    assert workloads == set(layers["workloads"]) == set(gen.GENERATORS)
    assert {m["name"] for m in spec["per_layer"]} == set(layers["layer_moves"])
    assert all(where == "all" or where in workloads for where, _ in layers["layer_moves"].values())


def main() -> int:
    checks = [check_generator_determinism, check_corpus_labels, check_event_log_folder, check_spec]
    try:
        for c in checks:
            c()
            print(f"ok {c.__name__}")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
