"""Seeded input generator for the benchmark workloads.

Reads only the source tables vendored under ``perfbench/data`` (a copy
of the project's sf0.01 synthetic TPC-H-style test tables) and writes
parquet under a caller-given directory. It uses numpy + pyarrow, never the engine, so the cost
of generating inputs cannot depend on the code under test. The same
seed gives byte-identical files.

- ``audit_month``: lineitem/orders replicated ``AUDIT_REPLICAS`` times.
  Replica ``r`` shifts order keys past the previous replica and remaps
  ``o_custkey`` / ``l_partkey`` through a seeded permutation of the
  existing key universe, so the R1/R7 group sizes vary with the seed.
- ``stream_gap_mark``: events replicated ``STREAM_REPLICAS`` times; per
  replica ``user_id`` is permuted by the seed and shifted past the
  previous replica, and past the first replica each event time moves
  by a seeded jitter of up to ``STREAM_JITTER_S``; sorted by event time
  and cut into ``STREAM_FILES`` files of equal row count.
- ``corpus_refresh``: waves of documents built from the vocabulary of
  ``documents.parquet``; every document carries the label the engine
  must reproduce (fresh, exact copy, near copy, quality reject).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

AUDIT_REPLICAS = 2
STREAM_REPLICAS = 2
STREAM_FILES = 48
STREAM_JITTER_S = 12 * 3600
CORPUS_WAVES = 8
CORPUS_WAVE_DOCS = 300
# label shares of waves after the first (the first has nothing to copy)
CORPUS_SHARES = {"fresh": 0.70, "exact": 0.10, "near": 0.10, "quality": 0.10}
STOP_WORDS = ["the", "and", "of"]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _src(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _permute(col: pa.ChunkedArray, universe: np.ndarray, perm: np.ndarray) -> np.ndarray:
    """Map each value of ``col`` through ``universe[i] -> perm[i]``."""
    vals = col.to_numpy()
    return perm[np.searchsorted(universe, vals)]


def gen_audit(seed: int, out_dir: str) -> dict:
    """sf-dir shaped tables for ``sendas_inputs``; returns row counts."""
    li, orders = _src("lineitem"), _src("orders")
    cust_keys = np.unique(orders["o_custkey"].to_numpy())
    part_keys = np.unique(li["l_partkey"].to_numpy())
    key_span = int(pc.max(orders["o_orderkey"]).as_py()) + 1
    li_parts, ord_parts = [], []
    for r in range(AUDIT_REPLICAS):
        rng = _rng(seed, 1, r)
        cperm = cust_keys if r == 0 else rng.permutation(cust_keys)
        pperm = part_keys if r == 0 else rng.permutation(part_keys)
        shift = r * key_span
        li_parts.append(
            li.set_column(
                li.schema.get_field_index("l_orderkey"), "l_orderkey",
                pc.add(li["l_orderkey"], shift),
            ).set_column(
                li.schema.get_field_index("l_partkey"), "l_partkey",
                pa.array(_permute(li["l_partkey"], part_keys, pperm)),
            )
        )
        ord_parts.append(
            orders.set_column(
                orders.schema.get_field_index("o_orderkey"), "o_orderkey",
                pc.add(orders["o_orderkey"], shift),
            ).set_column(
                orders.schema.get_field_index("o_custkey"), "o_custkey",
                pa.array(_permute(orders["o_custkey"], cust_keys, cperm)),
            )
        )
    lineitem = pa.concat_tables(li_parts)
    _write(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    _write(pa.concat_tables(ord_parts), os.path.join(out_dir, "orders.parquet"))
    for name in ("customer", "part"):
        _write(_src(name), os.path.join(out_dir, f"{name}.parquet"))
    return {"lineitem_rows": lineitem.num_rows}


def gen_stream(seed: int, out_dir: str) -> dict:
    """Event feed in event-time order, cut into ``STREAM_FILES`` parquet files
    (``feed/part-NNNN``) of equal row count. Returns the rows per file."""
    ev = _src("events").select(["event_id", "ts", "user_id", "event_type", "value"])
    user_span = int(pc.max(ev["user_id"]).as_py()) + 1
    id_span = int(pc.max(ev["event_id"]).as_py()) + 1
    ts_us = ev["ts"].cast(pa.int64()).to_numpy()
    parts = []
    users = np.arange(user_span)
    for r in range(STREAM_REPLICAS):
        rng = _rng(seed, 2, r)
        perm = rng.permutation(users)
        # jitter moves events across the 3-day gap rule, so the marks
        # differ per seed; every replica keeps the source's time span,
        # so each file interleaves the replicas alike and a micro-batch
        # holds about as many groups whatever the seed
        jitter_s = rng.integers(-STREAM_JITTER_S, STREAM_JITTER_S + 1, len(ts_us)) if r else 0
        parts.append(
            pa.table(
                {
                    "event_id": pc.add(ev["event_id"], r * id_span),
                    "ts": pa.array(ts_us + jitter_s * 1_000_000, pa.int64()).cast(ev.schema.field("ts").type),
                    "user_id": pa.array(perm[ev["user_id"].to_numpy()] + r * user_span),
                    "event_type": ev["event_type"],
                    "value": ev["value"],
                }
            )
        )
    feed = pa.concat_tables(parts)
    feed = feed.take(pc.sort_indices(feed, [("ts", "ascending"), ("event_id", "ascending")]))
    # equal row counts per file (in event-time order), so a micro-batch
    # carries the same work whatever the seed
    cuts = np.linspace(0, feed.num_rows, STREAM_FILES + 1).astype(int)
    for i in range(STREAM_FILES):
        _write(
            feed.slice(cuts[i], cuts[i + 1] - cuts[i]),
            os.path.join(out_dir, "feed", f"part-{i:04d}.parquet"),
        )
    return {"file_rows": [int(cuts[i + 1] - cuts[i]) for i in range(STREAM_FILES)]}


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """Alphabetic words of ``documents.parquet`` plus seeded two-letter
    suffix variants of each, so fresh documents rarely share 3-shingles."""
    words = sorted(
        {w for t in _src("documents")["text"].to_pylist() for w in t.split() if w.isalpha()}
        - set(STOP_WORDS)
    )
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set(words)
    for w in words:
        for a, b in rng.choice(letters, size=(80, 2)):
            out.add(w + a + b)
    return np.array(sorted(out))


def _fresh_text(rng: np.random.Generator, vocab: np.ndarray) -> str:
    toks = list(rng.choice(vocab, size=int(rng.integers(80, 130))))
    for w in STOP_WORDS:  # Gopher stop-word rule needs >= 2 hits
        toks.insert(int(rng.integers(0, len(toks) + 1)), w)
    return " ".join(toks)


def _near_text(rng: np.random.Generator, vocab: np.ndarray, text: str) -> str:
    """One middle token replaced: 3-shingle Jaccard >= (n-5)/(n+1) > 0.9."""
    toks = text.split()
    i = int(rng.integers(len(toks) // 4, 3 * len(toks) // 4))
    new = toks[i]
    while new in toks:
        new = str(rng.choice(vocab))
    toks[i] = new
    return " ".join(toks)


def gen_corpus(seed: int, out_dir: str) -> dict:
    """``wave-NNN.parquet`` files (doc_id, text, label). Returns per-wave
    ``labels`` counts, the oracle for the refresh step's accept/reject
    split, and the UTF-8 bytes of each wave's fresh text."""
    rng = _rng(seed, 3)
    vocab = _vocabulary(rng)
    accepted: list[str] = []
    counts, fresh_bytes = [], []
    next_id = 0
    for w in range(CORPUS_WAVES):
        rng = _rng(seed, 4, w)
        shares = CORPUS_SHARES if accepted else {"fresh": 0.9, "quality": 0.1}
        n = {k: int(round(v * CORPUS_WAVE_DOCS)) for k, v in shares.items()}
        n["fresh"] = CORPUS_WAVE_DOCS - sum(v for k, v in n.items() if k != "fresh")
        n_copies = n.get("exact", 0) + n.get("near", 0)
        sources = rng.choice(len(accepted), size=n_copies, replace=False) if n_copies else []
        docs = [("fresh", _fresh_text(rng, vocab)) for _ in range(n["fresh"])]
        docs += [("exact", accepted[i]) for i in sources[: n.get("exact", 0)]]
        docs += [("near", _near_text(rng, vocab, accepted[i]))
                 for i in sources[n.get("exact", 0):]]
        docs += [
            ("quality", " ".join(rng.choice(vocab, size=int(rng.integers(15, 40)))))
            for _ in range(n["quality"])
        ]
        order = rng.permutation(len(docs))
        docs = [docs[i] for i in order]
        _write(
            pa.table(
                {
                    "doc_id": pa.array(range(next_id, next_id + len(docs)), pa.int64()),
                    "text": [t for _, t in docs],
                    "label": [lab for lab, _ in docs],
                }
            ),
            os.path.join(out_dir, f"wave-{w:03d}.parquet"),
        )
        next_id += len(docs)
        accepted += [t for lab, t in docs if lab == "fresh"]
        counts.append({k: sum(1 for lab, _ in docs if lab == k) for k in CORPUS_SHARES})
        fresh_bytes.append(sum(len(t.encode()) for lab, t in docs if lab == "fresh"))
    return {"labels": counts, "fresh_bytes": fresh_bytes}


GENERATORS = {"audit_month": gen_audit, "stream_gap_mark": gen_stream, "corpus_refresh": gen_corpus}
