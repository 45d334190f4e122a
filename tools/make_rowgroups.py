#!/usr/bin/env python
"""Rewrite a testdata SF directory with >= N row groups per parquet.

VERDICT r12 item 9: the driver's 32-vs-8-core scaling block is flat at
sf0.1 because every input table is ONE parquet row group — Spark cannot
split a row group, so every scan has parallelism 1 and the bench mostly
measures per-query fixed costs. This tool produces a byte-identical-
content copy (same rows, same order, same schema — only the row-group
boundaries differ) whose scans split, so a scaling run can separate
parallel work from serial floors:

    python tools/make_rowgroups.py /root/testdata/sf0.1 /tmp/sf0.1_rg8 8
    SPARK_GRAFT_SF_DIR=/tmp/sf0.1_rg8 SPARK_GRAFT_CPUS=32 python bench.py
    SPARK_GRAFT_SF_DIR=/tmp/sf0.1_rg8 SPARK_GRAFT_CPUS=8  python bench.py

NOTE: file-split assignment is BYTE-range based — a row group lands in
the split covering its start offset, so row groups alone only raise
scan parallelism once the file spans several `maxPartitionBytes`
windows. At sub-128MB bench SFs pair this with a small split size so
the boundaries bite, e.g.:

    SPARK_GRAFT_EXTRA_CONF="spark.sql.files.maxPartitionBytes=1048576"

Never writes into the source directory: a ``dst`` that resolves to
``src`` or to a path inside it is refused (exit 2) before anything is
written.
"""

from __future__ import annotations

import math
import os
import sys

import pyarrow.parquet as pq


def _inside(path: str, root: str) -> bool:
    path, root = os.path.realpath(path), os.path.realpath(root)
    return os.path.commonpath([path, root]) == root


def main() -> int:
    src, dst = sys.argv[1], sys.argv[2]
    n_groups = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    if _inside(dst, src):
        print(f"refusing: {dst} is {src} or lies inside it", file=sys.stderr)
        return 2
    os.makedirs(dst, exist_ok=True)
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, f))
        rows_per_group = max(1, math.ceil(t.num_rows / n_groups))
        pq.write_table(
            t,
            os.path.join(dst, f),
            row_group_size=rows_per_group,
            compression="zstd",
        )
        meta = pq.ParquetFile(os.path.join(dst, f)).metadata
        print(f"{f}: {t.num_rows} rows -> {meta.num_row_groups} row groups")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
