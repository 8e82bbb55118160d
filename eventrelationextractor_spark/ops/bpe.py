"""Distributed BPE merge learning over a corpus (Sennrich et al. 2016).

Tokenizer training is the one corpus-scale job every LLM data pipeline
runs besides dedup/filtering. The classical algorithm is sequential
(k merge steps, each depending on the last), but its per-step work —
counting adjacent symbol pairs — is a pure corpus aggregation, which is
exactly what Spark parallelizes. No counterpart in /root/reference.

Scale design (100 TB):
* Step 0 collapses the corpus to the WORD-FREQUENCY table (one shuffle).
  Everything after is proportional to |vocab| (~10M rows for web text),
  not corpus size — the same trick SentencePiece/fastBPE use in RAM, done
  here as a distributed table so a 10^9-type vocab still fits.
* Each merge step = one map-side pair explode + one partial-agg groupBy +
  a LIMIT-1 ordered collect (a single driver row — the algorithm's
  inherent sync point; the merge decision IS driver state, like kmeans
  centroids in ops/cluster.py), then a map-side literal replace.
* Words are encoded as wrapper-delimited symbol strings
  ``<h><e><l><l><o>``: because every symbol carries both wrappers,
  a literal (non-regex) replace of ``<a><b>`` -> ``<ab>`` can neither
  match inside a longer symbol nor chain across overlapping occurrences,
  so one left-to-right pass reproduces classical BPE merge semantics
  exactly — and ``replace()`` has identical semantics in Spark and
  DuckDB, which the SQL oracle leans on.
* localCheckpoint per merge truncates the lineage (the CC-loop lesson,
  spark/kg.py:80-95) — vocab-sized, cheap.

Tie-breaks: max pair frequency, then (left, right) ascending binary —
deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_text


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq) over the normalized corpus (same tokenization as
    ops/textstats token ops: lowercase, alnum runs)."""
    return (df.select(F.explode(
                F.split(normalized_text(F.col(text_col)), " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))


def _symbolized(words: DataFrame) -> DataFrame:
    return words.select(
        F.regexp_replace("w", "(.)", "<$1>").alias("sym"), "freq")


def _pair_counts(sym: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies of the symbolized vocab, weighted by
    word frequency. Pure codegen: split + transform + explode + one
    map-side-combinable groupBy."""
    arr = F.split(F.regexp_replace("sym", "^<|>$", ""), "><")
    pairs = F.expr(
        "CASE WHEN size(la) < 2 THEN array() "
        "ELSE transform(sequence(1, size(la)-1), "
        "i -> struct(element_at(la, i) AS l, element_at(la, i+1) AS r)) "
        "END")
    return (sym.withColumn("la", arr)
            .select(F.explode(pairs).alias("p"), "freq")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("f")))


def learn_bpe(df: DataFrame, n_merges: int = 8,
              text_col: str = "text") -> list:
    """Learn ``n_merges`` BPE merges; returns
    ``[(rank, left, right, pair_freq), ...]`` with rank starting at 1.
    Stops early if no pair remains."""
    sym = _symbolized(word_frequencies(df, text_col)).localCheckpoint()
    merges = []
    for rank in range(1, n_merges + 1):
        best = (_pair_counts(sym)
                .orderBy(F.desc("f"), "l", "r")
                .limit(1).collect())
        if not best:
            break
        l, r, f = best[0].l, best[0].r, best[0].f
        merges.append((rank, l, r, int(f)))
        sym = sym.select(
            F.replace("sym", F.lit(f"<{l}><{r}>"),
                      F.lit(f"<{l}{r}>")).alias("sym"),
            "freq").localCheckpoint()
    return merges


def subword_vocab(df: DataFrame, merges: list,
                  text_col: str = "text") -> DataFrame:
    """(token, freq): corpus token counts after applying the learned
    merges — the tokenizer's unigram table. Merge application is a
    map-side chain of literal replaces (no per-row Python)."""
    sym = _symbolized(word_frequencies(df, text_col))
    col = F.col("sym")
    for _, l, r, _ in merges:
        col = F.replace(col, F.lit(f"<{l}><{r}>"), F.lit(f"<{l}{r}>"))
    arr = F.split(F.regexp_replace(col, "^<|>$", ""), "><")
    return (sym.select(F.explode(arr).alias("token"), "freq")
            .groupBy("token").agg(F.sum("freq").alias("freq")))


def encode_tokens(df: DataFrame, merges: list, id_col: str = "doc_id",
                  text_col: str = "text"):
    """Per-document BPE token array after applying ``merges`` - the
    tokenize-the-corpus step that turns text into training sequences.

    Entirely map-side, zero shuffle: the whole normalized document is
    symbolized at once (only non-space chars are wrapped, so a merge
    literal ``<a><b>`` can never match across a word boundary - applying
    merges at document level is EXACTLY word-level application), the
    merge chain is literal replaces in rank order, and the token array
    falls out of an unwrap+split+flatten. Same replace() semantics in
    DuckDB, which the SQL oracle replays."""
    sym = F.regexp_replace(normalized_text(F.col(text_col)),
                           "([^ ])", "<$1>")
    for _, l, r, _ in merges:
        sym = F.replace(sym, F.lit(f"<{l}><{r}>"), F.lit(f"<{l}{r}>"))
    arr = F.flatten(F.transform(
        F.split(sym, " "),
        lambda s: F.split(F.regexp_replace(s, "^<|>$", ""), "><")))
    arr = F.filter(arr, lambda t: t != "")
    return df.select(F.col(id_col), arr.alias("tokens"))


def encode_bpe(df: DataFrame, merges: list, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Corpus tokenization summary under a learned BPE: per document the
    token count, an md5 digest of the full token stream (captures every
    token and its order without shipping 10^6-row streams through the
    compare), and a token-ID checksum.

    Token IDs come from the subword vocab ranked (freq DESC, token ASC)
    - a window over the vocab-sized table, then a broadcast-sized join
    against the exploded token stream (a tokenizer vocab broadcasts at
    any corpus scale; AQE picks the broadcast automatically). The
    id_checksum = sum of token ids per doc pins the full id assignment
    under the value hash.

    The exploded stream carries ONLY (id, token) and aggregates on the
    bare id - never ride wide columns (the md5 digest) through a
    corpus-scale explode+shuffle: the digest half is pure map-side and
    rejoins on the doc-count-sized result (in-session A/B: 9.0s vs 1.4s
    at sf0.1, 6.5x)."""
    toks = encode_tokens(df, merges, id_col, text_col)
    from pyspark.sql import Window
    vocab = subword_vocab(df, merges, text_col)
    ranked = vocab.withColumn(
        "token_id", F.row_number().over(
            Window.orderBy(F.desc("freq"), "token")))
    base = toks.select(
        id_col, F.size("tokens").alias("n_tokens"),
        F.md5(F.array_join("tokens", " ")).alias("stream_md5"))
    ids = (toks.select(id_col, F.explode_outer("tokens").alias("token"))
           .join(F.broadcast(ranked.select("token", "token_id")),
                 "token", "left")
           .groupBy(id_col).agg(F.sum("token_id").alias("id_checksum")))
    return (base.join(ids, id_col)
            .select(id_col, "n_tokens", "stream_md5",
                    F.coalesce("id_checksum", F.lit(0)).cast("long")
                    .alias("id_checksum")))


# ------------------------------------------------- optimal segmentation
# Fewest-pieces subword segmentation (the WordPiece/SentencePiece
# decode-side problem): given a corpus-derived gram vocabulary, find the
# MINIMUM number of pieces that tile each document, single characters
# always available as fallback. Unlike greedy longest-match (MaxMatch),
# the DP answer is optimal; unlike unigram-LM Viterbi it needs no float
# log-probabilities, so the DP is pure integer min() - bit-identical on
# any engine, no libm/tie-break knife edges. Tokens-per-char from the
# OPTIMAL segmentation is the vocabulary-quality number tokenizer
# ablations want (greedy fertility confounds vocab quality with matcher
# greediness).


def gram_vocab(df: DataFrame, min_len: int = 2, max_len: int = 4,
               k: int = 200, text_col: str = "text") -> DataFrame:
    """(gram, n): the corpus's k most frequent character n-grams of
    length min_len..max_len over the RAW text (no case folding - Python
    and SQL lowercasing diverge on Unicode edge cases, and a vocabulary
    does not need it). All-JVM: per-length substring explode (narrow),
    one partial-agged count, TakeOrdered top-k. Tie-break (n desc,
    gram asc)."""
    parts = []
    for L in range(min_len, max_len + 1):
        parts.append(
            df.filter(F.length(text_col) >= L)
            .select(F.explode(F.expr(
                f"transform(sequence(1, length({text_col}) - {L} + 1), "
                f"i -> substring({text_col}, i, {L}))")).alias("gram")))
    allg = parts[0]
    for p in parts[1:]:
        allg = allg.unionByName(p)
    counts = allg.groupBy("gram").agg(F.count("*").alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("gram")).limit(k)


def optimal_segment(df: DataFrame, vocab: DataFrame, max_len: int = 4,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_pieces, fertility_x1000): minimal piece
    count tiling each text with vocabulary grams (length 2..max_len)
    plus always-available single characters, via the classic O(n *
    max_len) integer DP. fertility_x1000 = pieces*1000 div chars -
    integer, merge-order-proof.

    The vocabulary is a model-sized table (top-k rows) - collected and
    closed over, the broadcast-model pattern of ops/cluster.py /
    ops/quality.py; the segmentation itself is an Arrow-batched
    mapInPandas over a narrow (id, text) projection: zero shuffle,
    corpus-parallel, per-doc cost linear in text length. Python is the
    right tool here by design, not accident: a position-indexed DP is
    per-row sequential state no relational operator expresses (the
    DuckDB twin needs a recursive CTE carrying a sliding dp window to
    say the same thing)."""
    grams = frozenset(r[0] for r in vocab.select(vocab.columns[0])
                      .collect())
    out_schema = (f"{id_col} long, n_chars long, n_pieces long, "
                  "fertility_x1000 long")

    def fn(batches):
        import pandas as pd
        big = 1 << 60
        for b in batches:
            ids, ncs, nps, fert = [], [], [], []
            for i, t in zip(b[id_col], b[text_col]):
                t = t if isinstance(t, str) else ""
                n = len(t)
                dp = [0] + [big] * n
                for p in range(1, n + 1):
                    best = dp[p - 1] + 1
                    for j in range(2, max_len + 1):
                        if p - j >= 0 and t[p - j:p] in grams:
                            cand = dp[p - j] + 1
                            if cand < best:
                                best = cand
                    dp[p] = best
                ids.append(i)
                ncs.append(n)
                nps.append(dp[n])
                fert.append(0 if n == 0 else dp[n] * 1000 // n)
            yield pd.DataFrame({id_col: ids, "n_chars": ncs,
                                "n_pieces": nps,
                                "fertility_x1000": fert})

    return df.select(id_col, text_col).mapInPandas(fn, out_schema)


def wordpiece_vocab(words: DataFrame, k: int = 160,
                    max_len: int = 4) -> DataFrame:
    """(unit): a WordPiece-style subword vocabulary over a word-
    frequency table — the top-``k`` character n-grams (length 1..
    ``max_len``) by corpus frequency, where units are position-
    flavored exactly as in WordPiece: a gram counted at word start is
    the plain unit, a gram at any later position is the continuation
    unit ``##gram``. Every single character seen anywhere is added in
    BOTH flavors so greedy encoding can never dead-end.

    Scale design: unit counting runs over the WORD-FREQUENCY table
    (weight = word freq), never the token stream — the same
    |vocab|-proportional trick as learn_bpe. Tie-break (count desc,
    unit asc), exact integers."""
    ml = int(max_len)
    grid = F.expr(
        "flatten(transform(sequence(1, length(w)), p -> "
        f"transform(sequence(1, least({ml}, length(w) - p + 1)), L -> "
        "CASE WHEN p = 1 THEN substring(w, 1, L) "
        "ELSE concat('##', substring(w, p, L)) END)))")
    counts = (words.select(F.col(words.columns[0]).alias("w"),
                           F.col(words.columns[1]).alias("freq"))
              .select(F.explode(grid).alias("unit"), "freq")
              .groupBy("unit").agg(F.sum("freq").alias("cnt")))
    top = counts.orderBy(F.col("cnt").desc(), F.col("unit")) \
        .limit(int(k)).select("unit")
    chars = (words.select(F.explode(F.split(
                F.col(words.columns[0]), "")).alias("c"))
             .filter(F.col("c") != "").distinct()
             .select(F.explode(F.array(
                 F.col("c"), F.concat(F.lit("##"), F.col("c"))))
                 .alias("unit")))
    return top.unionByName(chars).distinct()


def wordpiece_census(words: DataFrame, vocab: DataFrame,
                     max_len: int = 4) -> DataFrame:
    """(unit, uses, n_words): greedy longest-match-first WordPiece
    encoding of every distinct word, aggregated to the vocabulary-
    bounded usage census — ``uses`` weights each occurrence by word
    frequency (a word containing a unit twice counts it twice),
    ``n_words`` counts distinct words using the unit.

    The vocabulary is model-sized (top-k + alphabet): collected and
    closed over (the broadcast-model pattern); encoding is an Arrow-
    batched mapInPandas over the DISTINCT-WORD table, so per-corpus
    cost is |vocab_words| x word-length — invariant to corpus row
    count, exactly how a 100-TB tokenizer pass should amortize. The
    greedy longest-match recurrence (match at pos, flavor by pos > 0,
    advance) is per-word sequential state; the DuckDB twin carries it
    as a recursive CTE with a list-state pieces column."""
    units = frozenset(r[0] for r in vocab.collect())
    ml = int(max_len)
    out_schema = "w string, freq long, piece string"

    def fn(batches):
        import pandas as pd
        for b in batches:
            ws, fs, ps = [], [], []
            for w, f in zip(b["w"], b["freq"]):
                w = w if isinstance(w, str) else ""
                pos, n = 0, len(w)
                while pos < n:
                    hit = None
                    for L in range(min(ml, n - pos), 0, -1):
                        cand = w[pos:pos + L]
                        unit = cand if pos == 0 else "##" + cand
                        if unit in units:
                            hit = (unit, L)
                            break
                    if hit is None:       # unseen char: emit as-is
                        hit = (w[pos] if pos == 0 else "##" + w[pos], 1)
                    ws.append(w)
                    fs.append(int(f))
                    ps.append(hit[0])
                    pos += hit[1]
            yield pd.DataFrame({"w": ws, "freq": fs, "piece": ps})

    enc = (words.select(F.col(words.columns[0]).alias("w"),
                        F.col(words.columns[1]).cast("long")
                        .alias("freq"))
           .mapInPandas(fn, out_schema))
    return (enc.groupBy(F.col("piece").alias("unit"))
            .agg(F.sum("freq").alias("uses"),
                 F.countDistinct("w").cast("long").alias("n_words")))
