"""Sequence packing - the last step of a training-data pipeline: lay
documents out into fixed-length training sequences (GPT-style
concatenate-with-EOS, then chop at seq_len boundaries; docs may
straddle sequence borders, exactly like the canonical LM data loader).

Scale shape: the token stream restarts every ``group_size`` doc ids
(group = doc_id // group_size), which makes packing

* **embarrassingly parallel** - one window per group, never a global
  ORDER BY (a single total-order cumsum is the classic anti-pattern:
  it funnels the corpus through one partition); and
* **append-stable** - adding new docs (higher ids) never moves any
  existing doc's (group, seq, offset) assignment, so packed layouts
  are reproducible across incremental ingests, like assign_split's
  growth-stable ranges in ops/textstats.py.

The per-group window cumsum is one hash-partitioned shuffle of
(doc_id, n_tokens) pairs - the narrowest possible carrier; text never
moves. Token counts are whitespace tokens split on
textstats.WS_PATTERN (+1 EOS per doc), so the DuckDB oracle mirrors
the whole computation with the same regexp + window SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(docs: DataFrame, seq_len: int = 512,
                   group_size: int = 128, eos_tokens: int = 1,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(doc_id, grp, n_tokens, start_offset, seq_first, seq_last):
    where each document lands in the packed token stream.

    ``n_tokens`` counts whitespace tokens + ``eos_tokens`` separators;
    ``start_offset`` is the doc's first token position within its
    group's stream; ``seq_first``/``seq_last`` are the group-local ids
    of the training sequences the doc touches (seq k = stream slice
    [k*seq_len, (k+1)*seq_len)).

    All id/offset arithmetic is pure integer ``div`` (never
    double-divide-then-truncate): ids and offsets are non-negative, so
    ``div`` == floor-division, it matches DuckDB's ``//`` exactly, and
    it stays exact past 2^53 where a double round-trip would round -
    the cross-engine value hash must not depend on float precision or
    ANSI-mode cast semantics (round-3 driver-gate lesson)."""
    from .textstats import WS_PATTERN
    toks = (F.size(F.split(F.trim(F.col(text_col)), WS_PATTERN))
            .cast("long") + eos_tokens)
    grp = F.expr(f"cast({id_col} as bigint) div {int(group_size)}")
    w = Window.partitionBy("grp").orderBy(id_col)
    return (docs
            .select(F.col(id_col).alias("doc_id"), grp.alias("grp"),
                    toks.alias("n_tokens"))
            .withColumn("start_offset",
                        F.sum("n_tokens").over(w) - F.col("n_tokens"))
            .withColumn("seq_first",
                        F.expr(f"start_offset div {int(seq_len)}"))
            .withColumn("seq_last",
                        F.expr(f"(start_offset + n_tokens - 1)"
                               f" div {int(seq_len)}")))


def bucketed_batches(docs: DataFrame, batch_size: int = 16,
                     max_len: int = 1024, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Length-bucketed batching telemetry - the OTHER training layout
    next to ``pack_sequences`` (which concatenates): pad-to-bucket
    batching groups docs into power-of-two length buckets and pads each
    doc to its bucket length, so attention masks stay per-doc at the
    cost of pad waste. This op prices that waste per bucket BEFORE a
    run commits to a layout.

    -> one row per bucket: (bucket_len, n_docs, n_batches, token_sum,
    pad_tokens, waste_ppm). bucket_len = smallest power of two >=
    clamp(ws_tokens, 1, max_len); n_batches = ceil(n_docs/batch_size);
    waste_ppm = 1e6 * pad / (bucket capacity actually allocated).

    Exact-integer discipline throughout: the power-of-two exponent is
    the BINARY-STRING length of (n-1) (``shiftleft(1, length(bin(
    n-1)))``), never a float log2 (whose edge behavior at exact powers
    of two differs between libm builds); ppm via integer ``div``. One
    map-side-combinable groupBy over <= log2(max_len)+1 keys - the
    whole corpus reduces to ~11 rows, merge-safe across shards."""
    from .textstats import WS_PATTERN
    toks = F.size(F.split(F.trim(F.col(text_col)), WS_PATTERN)) \
        .cast("long")
    clamped = F.greatest(F.least(toks, F.lit(int(max_len)).cast("long")),
                         F.lit(1).cast("long"))
    b = int(batch_size)
    return (docs
            .select(clamped.alias("nt"))
            .withColumn("bucket_len", F.expr(
                "CASE WHEN nt <= 1 THEN 1L "
                "ELSE shiftleft(1L, length(bin(nt - 1))) END"))
            .groupBy("bucket_len")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("nt").alias("token_sum"),
                 F.sum(F.col("bucket_len") - F.col("nt"))
                 .alias("pad_tokens"))
            .select("bucket_len", "n_docs",
                    F.expr(f"(n_docs + {b - 1}) div {b}")
                    .alias("n_batches"),
                    "token_sum", "pad_tokens",
                    F.expr("(1000000 * pad_tokens) div "
                           "(n_docs * bucket_len)").alias("waste_ppm")))


def chunk_documents(df: DataFrame, chunk_size: int = 64, stride: int = 48,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Overlapping fixed-size word-window chunking - the RAG-indexing /
    long-document training-prep twin of ``pack_sequences`` (which
    concatenates; this splits): chunk k of a doc covers words
    [1 + k*stride, ... + chunk_size), so consecutive chunks overlap by
    ``chunk_size - stride`` words and the tail chunk may be short.

    -> (id, chunk_id, chunk_text, n_chunk_tokens). Entirely map-side:
    within-row ``sequence(1, bound, stride)`` -> slice -> posexplode;
    no shuffle, no window - chunking parallelizes at scan granularity
    at any corpus size. The start bound
    ``greatest(1, least(n, n - chunk_size + stride))`` stops once the
    remaining tail is already covered (no chunk fully contained in its
    predecessor, no empty chunk when stride > chunk_size for gap
    sampling). (Spark's ``sequence`` throws on an empty range, so
    zero-word docs are filtered before it; they emit no chunks.)"""
    from .textstats import _word_array
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    words = df.select(F.col(id_col),
                      _word_array(F.col(text_col)).alias("ws"))
    bound = (f"greatest(1, least(size(ws), "
             f"size(ws) - {chunk_size} + {stride}))")
    return (words.filter(F.size("ws") >= 1)
            .select(id_col, F.posexplode(F.expr(
                f"transform(sequence(1, {bound}, {stride}),"
                f" s -> slice(ws, s, {chunk_size}))"))
                .alias("chunk_id", "chunk"))
            .select(id_col, F.col("chunk_id").cast("long").alias("chunk_id"),
                    F.array_join("chunk", " ").alias("chunk_text"),
                    F.size("chunk").cast("long").alias("n_chunk_tokens")))
