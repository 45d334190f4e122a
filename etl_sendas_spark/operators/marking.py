"""Group-marking operators — the reference's rule-engine primitives.

Two genuinely interesting operators live here:

- :func:`capped_group_mark` — reference rule R1 "Quirófano"
  (capital_sendas.py:326-380): inside each (invoice, service-date)
  group, walking rows in priority order, mark at most ``per_run_cap``
  rows per consecutive run of equal ``run_col`` values and at most
  ``total_cap`` rows overall. The reference does this with a Python
  loop per group; here it is TWO window functions and zero UDFs —
  eligibility (position within the run ≤ per-run cap) is independent
  of the marks, and the marks are just the first ``total_cap``
  eligible rows in walk order. Equivalence argued in SURVEY.md §2.5.

- :func:`gap_anchor_mark` — reference rule R7 "Consultorio urgencias"
  (capital_sendas.py:484-543): within each (patient, diagnosis) group
  ordered by service date, mark the first row, then mark a row only
  when it is more than ``gap_days`` after the LAST MARKED row (which
  resets the anchor). The anchor depends on prior marks — a stateful
  fold no window frame can express — so this is the engine's one
  pandas fold (one shuffle on the group key, then an Arrow-batched
  ``mapInPandas`` that carries the anchor across each partition's
  sorted groups).

- :func:`sessionize` — the window-expressible cousin (gap measured to
  the PREVIOUS row, not the last marked row): lag + cumulative sum.
  This is batch `session_window` semantics and is SQL-expressible,
  so it gets a DuckDB oracle; it is also the building block the
  streaming module reuses.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..sources.readers import ROW_ID


def _cols(cs: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cs]


def capped_group_mark(
    df: DataFrame,
    group_keys: Sequence[str],
    run_col: str,
    walk_order: Sequence[Column | str] | None = None,
    per_run_cap: int = 2,
    total_cap: int = 3,
    flag_col: str = "validacion",
) -> DataFrame:
    """Mark ≤ ``per_run_cap`` rows per equal-``run_col`` run, ≤ ``total_cap`` per group.

    ``walk_order`` is the within-group walk (default: ``run_col`` desc
    then row id, the reference's sort at capital_sendas.py:335). Runs
    must be contiguous under the walk order — true whenever the walk
    sorts by ``run_col``, as the reference does.

    Physical shape: every window below shares ONE partitioning
    (``group_keys``) and ONE ordering (the walk), so Catalyst plans a
    single shuffle + single sort and evaluates all four expressions in
    one Window node — the run position is derived from a lag-based
    run-start marker instead of a second (group, run) partitioning.
    """
    walk = (
        _cols(walk_order)
        if walk_order
        else [F.col(run_col).desc(), F.col(ROW_ID)]
    )
    w = Window.partitionBy(*_cols(group_keys)).orderBy(*walk)
    w_run_sum = w.rowsBetween(Window.unboundedPreceding, 0)

    rn = F.row_number().over(w)
    # null-safe change detection so null run values don't restart runs spuriously
    run_changed = (
        (rn == 1) | ~F.col(run_col).eqNullSafe(F.lag(F.col(run_col)).over(w))
    ).cast("int")
    # rn of the first row of this row's run (runs are contiguous under the walk)
    run_start = F.max(F.when(run_changed == 1, rn)).over(w_run_sum)
    eligible = ((rn - run_start) < per_run_cap).cast("int")
    elig_so_far = F.sum(eligible).over(w_run_sum)
    mark = (eligible == 1) & (elig_so_far <= total_cap)
    return df.withColumn(flag_col, mark.cast("int"))


def gap_anchor_mark(
    df: DataFrame,
    group_keys: Sequence[str],
    ts_col: str,
    order_by: Sequence[str],
    gap_days: int = 3,
    flag_col: str = "validacion",
) -> DataFrame:
    """Anchor-reset gap marking (reference R7): stateful fold per group.

    Mark row 1; thereafter mark a row iff ``(ts - last_marked_ts).days
    > gap_days`` (strictly greater — capital_sendas.py:532), and move
    the anchor to it.

    Physical shape: ONE shuffle (repartition on the group keys), sort
    within partitions, then a ``mapInPandas`` fold that carries
    (current-group, anchor) state across Arrow batches. This processes
    a whole partition's groups in one Python call — the earlier
    ``applyInPandas`` formulation paid a per-group invocation cost that
    dominated wall time on datasets with many small groups (the common
    case: one group per patient/diagnosis).
    """
    from collections.abc import Iterator

    import numpy as np
    from pyspark.sql import types as T

    # fresh StructType — StructType.add mutates in place, which would
    # corrupt the input DataFrame's cached schema
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(flag_col, T.IntegerType())]
    )
    keys = list(group_keys)
    order_cols = [c for c in order_by if c not in keys]
    gap = int(gap_days)
    day_ns = 86_400_000_000_000

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_key = None
        anchor = None  # int64 ns of the last MARKED ts; NaT sentinel = minint
        anchor_set = False
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ts = pd.to_datetime(pdf[ts_col], errors="coerce").values.astype("int64")
            nat = np.iinfo("int64").min
            key_rows = list(map(tuple, pdf[keys].astype(object).values))
            flags = np.zeros(n, dtype="int32")
            for i in range(n):
                k = key_rows[i]
                if k != cur_key:
                    cur_key = k
                    anchor_set = False
                t = ts[i]
                if not anchor_set:
                    flags[i] = 1
                    anchor = t
                    anchor_set = True
                elif t != nat and anchor != nat and (t - anchor) // day_ns > gap:
                    flags[i] = 1
                    anchor = t
            pdf = pdf.copy()
            pdf[flag_col] = flags
            yield pdf

    # nulls LAST in the walk order — pandas sort_values semantics (the
    # reference's sort), not Spark's default nulls-first
    arranged = df.repartition(*[F.col(k) for k in keys]).sortWithinPartitions(
        *[F.col(k) for k in keys],
        *[F.col(c).asc_nulls_last() for c in order_cols],
    )
    return arranged.mapInPandas(fold, schema=out_schema)


def sessionize(
    df: DataFrame,
    group_keys: Sequence[str],
    ts_col: str,
    gap: str = "INTERVAL 30 MINUTES",
    session_col: str = "session_id",
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Batch sessionization: new session when the gap to the PREVIOUS
    event exceeds ``gap``. lag + running sum — one shuffle, window-only,
    SQL-expressible (the DuckDB oracle uses the same formulation).

    ``order_by`` is the REQUIRED-in-spirit tiebreak after ``ts_col``:
    without a total order, two same-timestamp events in one group can
    land in different sessions per engine run (and diverge from the
    oracle, which tiebreaks on the event id). Defaults to ``__row_id``
    when present; raises if no tiebreak column can be found rather than
    silently ordering by ``(ts, ts)``.
    """
    if order_by:
        tiebreaks = _cols(order_by)
    elif ROW_ID in df.columns:
        tiebreaks = [F.col(ROW_ID)]
    else:
        raise ValueError(
            "sessionize needs a total order: pass order_by=[<unique id col>] "
            f"or attach {ROW_ID} (with_row_id) before sessionizing"
        )
    w = Window.partitionBy(*_cols(group_keys)).orderBy(F.col(ts_col), *tiebreaks)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    new_session = (
        prev_ts.isNull() | (F.col(ts_col) > prev_ts + F.expr(gap))
    ).cast("long")
    return df.withColumn(
        session_col,
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
