"""Record linkage (entity resolution across record sources) in the
Fellegi-Sunter style: blocking -> field-agreement vector -> additive
log-odds score -> match / possible / nonmatch decision.

Reference scope note: the reference's own canonicalization joins
(ProcessedCorpus entity merging, `spark/kg.py` coref edges) resolve
mentions INSIDE one corpus; this operator is the cross-SOURCE variant a
training-data pipeline needs when merging two crawls / registries of
the same population (dedupe-across-snapshots, supplier-master merges).

Scale shape
-----------
* Candidate generation is a **blocked equi-join** - never all-pairs.
  The caller picks blocking columns whose per-key group size is
  bounded (same contract as ops/dedup.py::capped_bucket_pairs); with
  B blocks of ~k records each the pair count is O(B * k^2), and the
  join shuffles on the block key only.
* Field comparisons and the score are pure codegen (`levenshtein`
  with a threshold, equality, CASE sums) - no Python in the pair loop.
* Weights are INTEGER centiban log-odds (scaled ln(m/u) values): the
  score is an exact integer sum, so the decision boundary is
  engine-deterministic - the money-in-cents lesson applied to
  probabilistic linkage.

Cross-engine notes: `levenshtein(a, b)` is available and agrees on
ASCII in Spark and DuckDB; the thresholded Spark form
`levenshtein(l, r, k)` (banded DP) is used when k is small, with the
plain form on the oracle side - equal results for the <=k band.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# (field, kind, agree_weight, disagree_weight) - kind: 'exact' | 'lev1'
Comparison = tuple[str, str, int, int]


def _agree_expr(field: str, kind: str):
    l, r = F.col(f"l_{field}"), F.col(f"r_{field}")
    if kind == "exact":
        return l == r
    if kind == "lev1":
        # banded DP: cost O(len) not O(len^2) when the band is 1.
        # Spark's thresholded levenshtein returns -1 when the distance
        # EXCEEDS the band - gate on >= 0 (the dedup_levenshtein lesson).
        return F.expr(f"levenshtein(l_{field}, r_{field}, 1)"
                      f" BETWEEN 0 AND 1")
    raise ValueError(f"unknown comparison kind: {kind}")


def link_records(left: DataFrame, right: DataFrame,
                 block_cols: Sequence[str],
                 comparisons: Sequence[Comparison],
                 match_threshold: int = 500,
                 possible_threshold: int = 0,
                 id_col: str = "rec_id") -> DataFrame:
    """(left_id, right_id, <field>_agree..., score, decision).

    ``left`` / ``right`` carry ``id_col``, the blocking columns, and
    every compared field under the same names. Pairs are generated
    per block (equi-join on ``block_cols``), scored by summing the
    integer agree/disagree weight per comparison, and classified:
    score >= match_threshold -> 'match', >= possible_threshold ->
    'possible', else 'nonmatch'. Emits every blocked pair - filter on
    decision downstream; the blocking design, not this operator,
    bounds the output (docstring budget: pairs ~ sum_b |Lb|*|Rb|)."""
    fields = [c for c, _, _, _ in comparisons]
    lsel = left.select(
        F.col(id_col).alias("left_id"),
        *[F.col(c).alias(f"l_{c}") for c in dict.fromkeys(list(block_cols) + fields)])
    rsel = right.select(
        F.col(id_col).alias("right_id"),
        *[F.col(c).alias(f"r_{c}") for c in dict.fromkeys(list(block_cols) + fields)])
    cond = [lsel[f"l_{b}"] == rsel[f"r_{b}"] for b in block_cols]
    pairs = lsel.join(rsel, cond)

    score = F.lit(0)
    out_cols = []
    for field, kind, w_agree, w_disagree in comparisons:
        agree = _agree_expr(field, kind)
        pairs = pairs.withColumn(f"{field}_agree", agree)
        out_cols.append(f"{field}_agree")
        score = score + F.when(F.col(f"{field}_agree"),
                               F.lit(int(w_agree))).otherwise(F.lit(int(w_disagree)))
    pairs = pairs.withColumn("score", score.cast("long"))
    decision = (F.when(F.col("score") >= int(match_threshold), F.lit("match"))
                .when(F.col("score") >= int(possible_threshold), F.lit("possible"))
                .otherwise(F.lit("nonmatch")))
    return pairs.select("left_id", "right_id", *out_cols, "score",
                        decision.alias("decision"))


def jaro_winkler(s1: str, s2: str) -> float:
    """Pure-Python Jaro-Winkler, BIT-IDENTICAL to DuckDB's
    jaro_winkler_similarity (verified on a 576-pair product in the
    driver oracle's construction): standard Jaro with the half-window
    match rule and transposition halving, Winkler boost above 0.7 with
    prefix <= 4 and scale 0.1. Kept as a plain function so tests and
    the Arrow kernel share one implementation."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if not l1 or not l2:
        return 0.0
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        lo = max(0, i - md)
        hi = min(l2, i + md + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / l1 + m / l2 + (m - t) / m) / 3
    if j > 0.7:
        pl = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            pl += 1
        j += pl * 0.1 * (1 - j)
    return j


def sorted_neighborhood(df: DataFrame, id_col: str, key,
                        window: int = 8,
                        bucket_prefix: int = 3) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD'95)
    -> (a, b, gap): candidate pairs whose GLOBAL positions in the
    (key, id) sort order differ by < ``window``. The classic
    complement to hash blocking (soundex_blocking): hash blocks miss
    near-misses that straddle a block boundary, SNM catches anything
    that SORTS nearby regardless of exact key equality.

    Distributed shape — no single-partition window anywhere:
    1. bucket = the first ``bucket_prefix`` chars of the key. Because
       the bucket is a PREFIX of the sort key, buckets are contiguous
       runs of the global order, so global_rank = bucket_offset +
       local row_number. Bucket offsets come from one tiny groupBy
       (O(#buckets) rows) cumulated with a statistic-scale window and
       broadcast back — the corpus-scale table only ever sees a
       PARTITIONED window.
    2. The neighborhood self-join is BANDED: band = rank div w; the
       right side duplicates into (band, band-1), the equi-join on
       band covers every pair with rank gap < w exactly once after
       the 1 <= gap <= w-1 filter. Equi-join + 2x fanout, no range
       join, no BNLJ.

    Determinism: order is (key, id) — total, engine-agnostic. Output
    pairs are (a < b by rank) with their rank gap; downstream feeds
    them to the comparison stage (link_records / jw).

    At 100 TB: buckets must be granular enough that one bucket fits a
    task (raise ``bucket_prefix``); the band join shuffles on the
    band integer, which is uniform by construction."""
    from pyspark.sql import Window

    keyed = df.select(F.col(id_col).alias("rid"), key.alias("k")) \
        .withColumn("bkt", F.substring("k", 1, bucket_prefix))
    counts = keyed.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"))
    w_off = (Window.orderBy("bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = counts.withColumn(
        "off", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)))
    w_loc = Window.partitionBy("bkt").orderBy("k", "rid")
    ranked = (keyed.join(F.broadcast(offs.select("bkt", "off")), "bkt")
              .withColumn("r", (F.col("off")
                                + F.row_number().over(w_loc))
                          .cast("long"))
              .select("rid", "k", "r"))
    wl = F.lit(int(window))
    left = ranked.select(F.col("rid").alias("a"),
                         F.col("r").alias("ra"),
                         (F.col("r") - (F.col("r") % wl)).alias("band"))
    right = (ranked.select(F.col("rid").alias("b"),
                           F.col("r").alias("rb"))
             .withColumn("band", F.explode(F.array(
                 F.col("rb") - (F.col("rb") % wl),
                 F.col("rb") - (F.col("rb") % wl) - wl))))
    return (left.join(right, "band")
            .filter((F.col("rb") - F.col("ra") >= 1)
                    & (F.col("rb") - F.col("ra") <= window - 1))
            .select("a", "b",
                    (F.col("rb") - F.col("ra")).cast("long")
                    .alias("gap")))


def stable_matching(proposers: DataFrame, n_shards: int,
                    rounds: int = 12,
                    salt_p: str = "p", salt_s: str = "s") -> DataFrame:
    """Capacitated Gale-Shapley deferred acceptance -> (p, shard,
    n_proposals): assign each proposer (doc / task / user) to one of
    ``n_shards`` acceptors with capacity ceil(|P| / n_shards), where
    BOTH sides have genuine preferences (md5-derived total orders -
    deterministic, engine-replayable). The two-sided-preference
    assignment primitive: task placement under per-worker affinity,
    crawl-host assignment under politeness budgets, A/B arm
    allocation with per-arm quotas - where one-sided greedy
    (ops/graph.py::greedy_matching, rendezvous sharding) cannot honor
    the acceptor's ranking. Result is the proposer-optimal stable
    matching (hospital/residents).

    ROUND-SYNCHRONOUS semantics, fixed ``rounds`` budget as part of
    the operator contract: each round, every unmatched proposer with
    preferences left proposes to its next-ranked shard (the cursor
    advances on every proposal made, accepted or not); each shard
    pools current holds + new proposals and keeps its top-capacity by
    ITS preference order. McVitie-Wilson: the stable outcome is
    independent of proposal order, so the synchronous schedule
    converges to the same matching as the sequential algorithm - and
    the fixed round count makes the chained-CTE oracle replay exact
    even pre-convergence (the stable_matching unit test asserts
    convergence + no blocking pair at the test SF).

    Scale shape: state is (held: shard x capacity rows) + (cursor:
    one row per proposer); each round is two equi-joins, one
    per-shard top-capacity window (n_shards groups - at corpus scale
    swap the window for the aggregation-based top-k like
    ops/bm25.py::top_terms), one localCheckpoint. Rounds <= the
    preference-list length once every proposer exhausts its list."""
    p = proposers.select(F.col("p").cast("long").alias("p")).distinct()
    n_p = p.count()
    cap = (n_p + int(n_shards) - 1) // int(n_shards)
    shards = p.sparkSession.range(int(n_shards)) \
        .select(F.col("id").cast("long").alias("s"))
    pref = (p.crossJoin(F.broadcast(shards))
            .withColumn("pk", F.md5(F.concat(
                F.lit(salt_p + ":"), F.col("p").cast("string"),
                F.lit(":"), F.col("s").cast("string"))))
            .withColumn("rnk", (F.row_number().over(
                Window.partitionBy("p").orderBy("pk", "s")) - 1)
                .cast("long"))
            .select("p", "s", "rnk").localCheckpoint())
    held = p.sparkSession.createDataFrame([], "s long, p long")
    cur = p.withColumn("cur", F.lit(0).cast("long")).localCheckpoint()
    skey = F.md5(F.concat(F.lit(salt_s + ":"),
                          F.col("s").cast("string"), F.lit(":"),
                          F.col("p").cast("string")))
    # every cross-frame join below renames one side's key first: the
    # state frames share lineage with `p`/`pref` and Spark's
    # ambiguous-self-join analysis rejects name-equal join keys
    # (the round-4 cogroup-shared-lineage lesson, applied to joins)
    for _ in range(int(rounds)):
        free = (cur.filter(F.col("cur") < int(n_shards))
                .join(held.select(F.col("p").alias("hp")),
                      F.col("p") == F.col("hp"), "left_anti"))
        props = (free.select(F.col("p").alias("fp"), "cur")
                 .join(pref, (F.col("fp") == F.col("p"))
                       & (F.col("cur") == F.col("rnk")))
                 .select("s", F.col("fp").alias("p")))
        pool = held.unionByName(props)
        held = (pool.withColumn("rn", F.row_number().over(
                    Window.partitionBy("s").orderBy(skey, "p")))
                .filter(F.col("rn") <= cap).select("s", "p")
                .localCheckpoint(eager=False))
        cur = (cur.join(props.select(F.col("p").alias("qp")),
                        F.col("p") == F.col("qp"), "left")
               .select("p", (F.col("cur")
                             + F.when(F.col("qp").isNotNull(),
                                      F.lit(1)).otherwise(F.lit(0)))
                       .cast("long").alias("cur"))
               .localCheckpoint(eager=False))
    return (p.join(held.select(F.col("p").alias("hp"),
                               F.col("s").alias("shard")),
                   F.col("p") == F.col("hp"), "left")
            .join(cur.select(F.col("p").alias("cp"),
                             F.col("cur").alias("n_proposals")),
                  F.col("p") == F.col("cp"), "left")
            .select("p", F.coalesce(F.col("shard"), F.lit(-1))
                    .cast("long").alias("shard"),
                    F.col("n_proposals").cast("long")
                    .alias("n_proposals")))


def damerau_levenshtein(a: str, b: str) -> int:
    """TRUE (unrestricted) Damerau-Levenshtein distance - the
    alphabet-table DP (Lowrance & Wagner 1975), NOT the restricted
    optimal-string-alignment variant: DL('CA','ABC') = 2 where OSA
    says 3. DuckDB's damerau_levenshtein builtin implements the true
    metric (probed in-session on the CA/ABC discriminator), so this
    kernel is its exact twin and the oracle can call the builtin -
    the same exact-twin contract as :func:`jaro_winkler` vs DuckDB's
    jaro_winkler_similarity (pinned by a pair-product parity test)."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxd = la + lb
    # d is offset by 2: d[i+1][j+1] corresponds to prefixes a[:i], b[:j]
    d = [[maxd] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    da = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,            # substitute / match
                d[i + 1][j] + 1,           # insert
                d[i][j + 1] + 1,           # delete
                d[k][l] + (i - k - 1) + 1 + (j - l - 1))  # transpose
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def blocked_dl_pairs(terms: DataFrame, block_col: str = "sdx",
                     term_col: str = "term",
                     max_dist: int = 2) -> DataFrame:
    """Blocked fuzzy matching on TRUE Damerau-Levenshtein -> (a, b,
    dl) for a < b with dl <= ``max_dist``: transposition-aware typo
    linkage ('hte' is one edit from 'the', not two). Record-linkage
    shape - pairs
    come ONLY from shared blocking keys, the O(|a|*|b|) kernel runs
    on block survivors via an Arrow-batched pandas UDF, and the
    output is pure BIGINT so the hash gate has zero float slack."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _dl_kernel(a, b):
        return pd.Series([damerau_levenshtein(x, y)
                          for x, y in zip(a, b)])

    _dl_kernel.__annotations__ = {"a": pd.Series, "b": pd.Series,
                                  "return": pd.Series}
    dl_udf = pandas_udf(_dl_kernel, "long")

    l = terms.select(F.col(block_col).alias("k"),
                     F.col(term_col).alias("a"))
    r = terms.select(F.col(block_col).alias("k"),
                     F.col(term_col).alias("b"))
    pairs = (l.join(r, "k").filter(F.col("a") < F.col("b"))
             .select("a", "b"))
    scored = pairs.withColumn("dl", dl_udf(F.col("a"), F.col("b")))
    return scored.filter(F.col("dl") <= int(max_dist)) \
        .select("a", "b", "dl")


def smith_waterman(a: str, b: str, match: int = 2, mismatch: int = -1,
                   gap: int = -1) -> int:
    """Smith-Waterman local alignment score (integer, linear gaps):
    the best-scoring pair of substrings under +2/-1/-1 — the LOCAL
    counterpart of the global edit distances in this module
    (levenshtein/damerau answer "how far apart are the wholes";
    local alignment answers "how strong is the best shared region",
    which is what near-dup forensics and quote detection need)."""
    n, m = len(a), len(b)
    best = 0
    prev = [0] * (m + 1)
    for i in range(1, n + 1):
        cur = [0] * (m + 1)
        ai = a[i - 1]
        for j in range(1, m + 1):
            s = match if ai == b[j - 1] else mismatch
            h = prev[j - 1] + s
            if prev[j] + gap > h:
                h = prev[j] + gap
            if cur[j - 1] + gap > h:
                h = cur[j - 1] + gap
            if h < 0:
                h = 0
            cur[j] = h
            if h > best:
                best = h
        prev = cur
    return best


def local_alignment_pairs(pairs: DataFrame, id_col: str = "pid",
                          a_col: str = "a", b_col: str = "b") \
        -> DataFrame:
    """(pid, n1, n2, sw_score): Smith-Waterman over a staged pair
    table. Per-pair O(n*m) sequential DP -> Arrow mapInPandas (zero
    shuffle, corpus-parallel); lengths are bounded by the caller's
    staging contract. The DuckDB twin walks the SAME dp by
    anti-diagonals (the banded-DTW oracle pattern): cells on
    diagonal k depend only on diagonals k-1 and k-2, and because
    Smith-Waterman floors at 0, storing 0 for out-of-range cells
    makes the boundary rows/cols fall out for free."""
    import pandas as pd

    out_schema = f"{id_col} long, n1 long, n2 long, sw_score long"

    def fn(batches):
        for bt in batches:
            ids, n1s, n2s, scs = [], [], [], []
            for pid, a, b in zip(bt[id_col], bt[a_col], bt[b_col]):
                a = a if isinstance(a, str) else ""
                b = b if isinstance(b, str) else ""
                ids.append(int(pid))
                n1s.append(len(a))
                n2s.append(len(b))
                scs.append(smith_waterman(a, b))
            yield pd.DataFrame({id_col: ids, "n1": n1s, "n2": n2s,
                                "sw_score": scs})

    return (pairs.select(id_col, a_col, b_col)
            .mapInPandas(fn, out_schema))
