"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units").

Training a tokenizer is a corpus-scale job with a shape Spark handles
well once you notice the classic reduction every production trainer
(subword-nmt, GPT-2's encoder build, SentencePiece) applies first: BPE
statistics depend on the corpus ONLY through the word-frequency table.
So the pipeline is

    corpus (100 TB)  --one groupBy-->  word_freqs (|vocab| rows)
    word_freqs       --n_merges iterations-->  merge list

and every training iteration touches the *vocabulary* table, whose size
is corpus-growth-sublinear (Heaps' law), never the corpus again. The
one corpus-sized shuffle is the word count, and map-side combine
collapses it to one row per distinct word per partition. Each
iteration's global argmax is the algorithm's inherent synchronization
point — a 1-row collect, one tiny action per round like the
connected-components fixpoint test (operators/dedupe.py).

Encoding (applying trained merges back to the corpus) is scan-local:
the merge list broadcasts inside an Arrow ``mapInPandas`` closure and
each batch tokenizes independently with a per-batch word cache — no
shuffle at all, so encode cost is a single pass regardless of corpus
size.

Reference anchor: the reference pipeline has no tokenizer (it is a
finance ETL, capital_sendas.py), but its normalize-then-split text
convention (mirrored in functions/text.py `normalized_text`) is reused
verbatim so BPE sees the same token stream as every other corpus
operator in this engine.

Determinism: merge selection orders by (count DESC, sym_a ASC,
sym_b ASC) — a total order, so training is reproducible across runs,
partitionings, and engines; the pure-Python reference in
tests/test_bpe.py replays it exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .text import normalized_text

EOW = "</w>"  # end-of-word marker, per the paper


def word_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, freq): THE reduction that makes BPE training
    corpus-size-independent past one pass. One explode + one groupBy;
    map-side combine does the heavy lifting (each partition emits one
    row per distinct word it saw, not one per occurrence)."""
    words = df.select(
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count("*").alias("freq"))


def to_symbols(word_col: Column | str) -> Column:
    """Initial BPE state for a word: its characters plus the
    end-of-word marker, as ``array<string>`` — pure Column expr."""
    c = F.col(word_col) if isinstance(word_col, str) else word_col
    return F.concat(F.split(c, ""), F.array(F.lit(EOW)))


def pair_counts(vocab: DataFrame, freq_col: str = "freq") -> DataFrame:
    """Adjacent-symbol-pair frequencies over a symbolized vocab table
    (columns ``syms: array<string>``, ``freq``): zip each symbol array
    against itself shifted by one, explode, weighted sum. All JVM-side
    (slice/arrays_zip/explode); the groupBy shuffles |distinct pairs|
    rows — alphabet²-bounded early, vocab-bounded later, tiny either
    way."""
    pairs = vocab.select(
        F.col(freq_col).alias("freq"),
        F.explode(
            F.arrays_zip(
                F.expr("slice(syms, 1, size(syms) - 1)").alias("sym_a"),
                F.expr("slice(syms, 2, size(syms) - 1)").alias("sym_b"),
            )
        ).alias("p"),
    ).select(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"), "freq")
    return pairs.groupBy("sym_a", "sym_b").agg(F.sum("freq").alias("cnt"))


def _merge_pair_udf(sym_a: str, sym_b: str):
    """Arrow grouped transform merging every adjacent (sym_a, sym_b)
    into one symbol, left-to-right non-overlapping (the paper's rule:
    'aaa' with merge (a,a) -> ['aa','a'])."""
    from pyspark.sql.types import ArrayType, StringType
    from pyspark.sql.functions import pandas_udf

    merged = sym_a + sym_b

    @pandas_udf(ArrayType(StringType()))
    def merge(syms: pd.Series) -> pd.Series:
        def one(arr):
            out, i, n = [], 0, len(arr)
            while i < n:
                if i + 1 < n and arr[i] == sym_a and arr[i + 1] == sym_b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(arr[i])
                    i += 1
            return out

        return syms.map(one)

    return merge


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_freq: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from a corpus; returns
    [(sym_a, sym_b, count), ...] in merge order.

    Scale shape: ONE corpus pass (word_freqs), then every iteration
    runs over the distributed vocab table — pair explode + argmax
    (1-row collect) + Arrow merge apply — at cost O(total vocab
    symbols), independent of corpus size. The vocab table is
    eagerly localCheckpointed each iteration so lineage stays flat
    across the merge loop (30 chained Arrow stages would otherwise
    re-execute per action). Stops early when the best pair's count
    drops below ``min_freq`` (merging hapaxes memorizes the corpus).

    The full pair recount per iteration is the simple variant; the
    incremental one (re-count only words containing the merged pair)
    saves constant factors but shares the same asymptotic bound — at
    vocab scale the recount is a sub-second job, so we keep the
    obviously-correct form.
    """
    vocab = (
        word_freqs(df, text_col)
        .select(to_symbols("word").alias("syms"), "freq")
        .localCheckpoint()
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), F.col("sym_a").asc(), F.col("sym_b").asc())
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_freq:
            break
        a, b, cnt = best[0]["sym_a"], best[0]["sym_b"], int(best[0]["cnt"])
        merges.append((a, b, cnt))
        vocab = vocab.withColumn(
            "syms", _merge_pair_udf(a, b)(F.col("syms"))
        ).localCheckpoint()
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE encode of one word: repeatedly merge the lowest-rank
    adjacent pair (exactly how trained merges replay at inference)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize a corpus with trained merges: scan-local mapInPandas,
    merge ranks broadcast in the closure, per-batch word→tokens cache
    (corpus word distributions are Zipfian, so the cache hit rate is
    the head mass). No shuffle; output schema = input + ``out_col:
    array<string>``."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    ranks = {(m[0], m[1]): i for i, m in enumerate(merges)}
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(StringType()))]
    )
    norm = normalized_text(F.col(text_col))
    with_norm = df.withColumn("__bpe_norm", norm)
    in_schema = with_norm.schema

    def encode_batches(batches):
        cache: dict[str, list[str]] = {}

        def enc_text(norm_text):
            toks: list[str] = []
            if norm_text:
                for w in norm_text.split(" "):
                    got = cache.get(w)
                    if got is None:
                        got = _encode_word(w, ranks)
                        cache[w] = got
                    toks.extend(got)
            return toks

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = pdf["__bpe_norm"].map(enc_text)
            yield pdf.drop(columns=["__bpe_norm"])

    schema = StructType(
        [f for f in in_schema.fields if f.name != "__bpe_norm"]
        + [StructField(out_col, ArrayType(StringType()))]
    )
    assert [f.name for f in schema.fields] == [f.name for f in out_schema.fields]
    return with_norm.mapInPandas(encode_batches, schema=schema)


def merges_to_df(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Trained merge list → (rank, sym_a, sym_b, cnt) DataFrame, the
    at-rest form (write it as parquet, or version it in a
    sources/txlog.TxLogTable next to the corpus snapshot it was trained
    on — tokenizer/corpus version skew is a classic training bug)."""
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, sym_a string, sym_b string, cnt bigint",
    )


def merges_from_df(df: DataFrame) -> list[tuple[str, str, int]]:
    """Inverse of :func:`merges_to_df`: rank order restored regardless
    of file/partition order (merge RANK is the model — applying merges
    out of order changes tokenizations)."""
    rows = df.select("rank", "sym_a", "sym_b", "cnt").collect()
    return [
        (r["sym_a"], r["sym_b"], int(r["cnt"]))
        for r in sorted(rows, key=lambda r: r["rank"])
    ]
