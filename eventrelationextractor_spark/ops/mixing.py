"""Data-mixing operators: temperature-scaled mixture weights + sampling.

``ops/textstats.stratified_sample`` applies *driver-supplied* per-stratum
rates. A real training-corpus pipeline derives those rates from the data:
the standard recipe (multilingual LM sampling, UnifiedQA / mT5-style
alpha-smoothing, DoReMi's starting point) reweights stratum s with
probability proportional to n_s**alpha — alpha = 1 keeps the natural
distribution, alpha -> 0 flattens it, boosting tail domains/languages.

Scale design: the rate computation touches only the stratum-level count
table (thousands of rows at web scale — domains/languages, not docs), so
the normalization is a tiny single-partition aggregate; rates re-attach
to the corpus with a broadcast join, and the sampling filter is the same
shuffle-free md5-fate predicate as stratified_sample — reproducible
across runs, engines and resumes, no RNG state. One shuffle total (the
stratum count), then map-side only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def temperature_mixture_rates(df: DataFrame, stratum_col: str,
                              alpha: float = 0.5,
                              target_frac: float = 0.5) -> DataFrame:
    """(stratum, n_docs, weight, rate): weight = n^alpha / sum(n^alpha);
    rate = min(1, target_frac * N_total * weight / n) — the per-row keep
    probability that hits ``target_frac`` of the corpus in expectation
    while allocating across strata by the tempered weights. (Strata whose
    tempered share exceeds their size cap at rate 1; the realized total
    then undershoots target_frac — the standard behavior, callers iterate
    alpha if they need the exact budget.)"""
    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("n_total"),
                     F.sum(F.pow("n_docs", F.lit(alpha))).alias("z"))
    return (counts.crossJoin(F.broadcast(tot))
            .select(stratum_col, "n_docs",
                    (F.pow("n_docs", F.lit(alpha)) / F.col("z"))
                    .alias("weight"),
                    F.least(
                        F.lit(1.0),
                        F.lit(target_frac) * F.col("n_total")
                        * F.pow("n_docs", F.lit(alpha)) / F.col("z")
                        / F.col("n_docs")).alias("rate")))


def apply_mixture(df: DataFrame, rates: DataFrame, stratum_col: str,
                  id_col: str = "doc_id", salt: str = "mix1") -> DataFrame:
    """Filter ``df`` to the sampled mix: row survives iff its md5 fate
    (identical to stratified_sample's) falls under its stratum's rate.
    ``rates`` is stratum-level -> broadcast."""
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
        1, 8), 16, 10).cast("long") % 10000
    r = rates.select(stratum_col, "rate")
    return (df.join(F.broadcast(r), stratum_col)
            .filter(h < F.col("rate") * 10000.0)
            .drop("rate"))


def dsir_weights(df: DataFrame, target, n_buckets: int = 1024,
                 id_col: str = "doc_id", text_col: str = "text",
                 keep_frac: float = 0.2, salt: str = "dsir",
                 exact_threshold: bool = True) -> DataFrame:
    """DSIR - Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score every document by the
    log-likelihood ratio of a TARGET hashed-bigram unigram-bag model
    against the BACKGROUND (full-corpus) model, add deterministic
    Gumbel noise, and keep the top ``keep_frac`` - the standard recipe
    for tilting a web crawl toward a quality/domain target without
    training a classifier.

    ``target`` is a boolean Column marking the target subset (it must
    be computable map-side, e.g. a predicate on existing columns).
    Both models use add-one smoothing over ``n_buckets`` hashed-bigram
    buckets: log p[b] = ln((c_b + 1) / (T + n_buckets)).

        log_weight(doc) = sum over bigram occurrences of
                          (log p_target[bucket] - log p_background[bucket])

    Gumbel-top-k resampling (the paper's sampling-without-replacement
    trick) uses u = md5-fate in (0,1) - reproducible across engines
    and resumes, like stratified_sample - and keeps
    score = log_weight + gumbel above the exact (1 - keep_frac)
    corpus percentile.

    Scale shape: bigram+bucket formation is map-side (within-row
    slice/zip + md5), the two models are partial-agged groupBys
    collapsing to <= n_buckets rows each and BROADCAST back (the model
    is fixed-size regardless of corpus), the per-doc score is one
    partial-agged sum, and the selection threshold is a 1-row
    aggregate cross-joined back - no global sort, no window over the
    corpus. log_weight is rounded to 6 decimals before the
    noise/threshold math so the cut is engine-stable.

    ``exact_threshold=True`` (the oracled branch) computes the cut
    with the exact ``percentile`` aggregate, which buffers all scores
    in ONE aggregation buffer - fine to tens of millions of docs, not
    at full corpus scale; ``exact_threshold=False`` is the 100-TB
    branch (``percentile_approx``: GK sketch, bounded memory,
    map-side mergeable; the cut moves by the sketch's rank epsilon)."""
    from .dedup import normalized_text
    words = F.filter(F.split(normalized_text(F.col(text_col)), " "),
                     lambda w: w != "")
    base = (df.select(F.col(id_col), target.alias("is_target"),
                      words.alias("ws"))
            .filter(F.size("ws") >= 2))
    grams = (base
             .withColumn("a", F.expr("slice(ws, 1, size(ws) - 1)"))
             .withColumn("b", F.expr("slice(ws, 2, size(ws) - 1)"))
             .select(id_col, "is_target",
                     F.explode(F.arrays_zip("a", "b")).alias("p"))
             .select(id_col, "is_target",
                     (F.conv(F.substring(F.md5(
                         F.concat_ws(" ", F.col("p.a"), F.col("p.b"))),
                         1, 8), 16, 10).cast("long")
                      % n_buckets).alias("bucket")))
    q_counts = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cq"))
    t_counts = grams.filter(F.col("is_target")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("ct"))
    model = (q_counts.join(t_counts, "bucket", "left")
             .select("bucket",
                     F.coalesce("ct", F.lit(0)).alias("ct"), "cq"))
    tots = model.agg(F.sum("ct").alias("tt"), F.sum("cq").alias("tq"))
    model = (model.crossJoin(F.broadcast(tots))
             .select("bucket",
                     (F.log((F.col("ct") + 1)
                            / (F.col("tt") + n_buckets))
                      - F.log((F.col("cq") + 1)
                              / (F.col("tq") + n_buckets)))
                     .alias("llr")))
    scored = (grams.join(F.broadcast(model), "bucket")
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_bigrams"),
                   F.round(F.sum("llr"), 6).alias("log_weight")))
    u = ((F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"),
                       F.col(id_col).cast("string"))), 1, 8), 16, 10)
        .cast("double") + 0.5) / F.lit(4294967296.0))
    noised = scored.withColumn(
        "score", F.round(F.col("log_weight")
                         + (-F.log(-F.log(u))), 6))
    pfn = "percentile" if exact_threshold else "percentile_approx"
    extra = "" if exact_threshold else ", 10000"
    thr = noised.agg(F.expr(
        f"round({pfn}(score, {1.0 - keep_frac}{extra}), 6)").alias("thr"))
    return (noised.crossJoin(F.broadcast(thr))
            .select(id_col, "n_bigrams", "log_weight", "score",
                    (F.col("score") > F.col("thr")).alias("selected")))


def mixing_plan(df: DataFrame, stratum_col: str, token_col: str,
                target_tokens: int, alpha: float = 0.5) -> DataFrame:
    """Epoch/repeat-factor plan for a token budget (the LLaMA-style
    data-mixture table): per stratum (source/language/quality tier)
    the tempered weight ``n_tokens^alpha / Z``, its share of
    ``target_tokens``, and ``repeat_factor`` = target share / actual
    tokens - > 1 means the stratum is UPSAMPLED (multiple epochs),
    < 1 means sampled down. ``temperature_mixture_rates`` answers the
    per-ROW keep-probability question; this answers the budgeting one
    ("how many epochs of wiki vs crawl fit in 2T tokens?").

    One partial-agged groupBy to stratum cardinality + a 1-row
    broadcast total - the whole plan is stratum-table-sized."""
    counts = df.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_col).alias("n_tokens"))
    tot = counts.agg(
        F.sum(F.pow("n_tokens", F.lit(alpha))).alias("z"))
    w = F.pow("n_tokens", F.lit(alpha)) / F.col("z")
    return (counts.crossJoin(F.broadcast(tot))
            .select(stratum_col, "n_docs", "n_tokens",
                    F.round(w, 6).alias("weight"),
                    F.round(F.lit(float(target_tokens)) * w, 2)
                    .alias("target_tokens"),
                    F.round(F.lit(float(target_tokens)) * w
                            / F.col("n_tokens"), 6)
                    .alias("repeat_factor")))


def training_order(df: DataFrame, n_shards: int = 8,
                   id_col: str = "doc_id", salt: str = "shuf1") -> DataFrame:
    """Deterministic global training-data shuffle: assign every example
    a shard and an in-shard position from md5(salt:id) -> (id, shard,
    pos). THE final stage of a training-corpus pipeline: examples must
    arrive in a reproducible pseudo-random order (no curriculum bias
    from crawl/source locality), resumable mid-epoch by (shard, pos),
    identical across engines/reruns, and re-shuffleable per epoch by
    changing ``salt``.

    shard = hash % n_shards spreads any input locality uniformly;
    pos = rank of the FULL md5 hex within the shard (ties impossible
    modulo md5 collisions; id breaks them deterministically anyway).

    Scale shape: one Exchange on shard, then an in-shard sort - exactly
    the sort the shard writer performs anyway, bounded by corpus/
    n_shards per task (pick n_shards = target file count, thousands at
    100 TB, so a shard is a file-sized unit). No global sort, no
    driver state. The fate hash is the stratified_sample construction,
    so a doc's survival (sampling) and its position (shuffle) stay
    independent pure functions of (salt, id)."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    shard = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
             % n_shards).cast("long")
    w = Window.partitionBy("shard").orderBy(F.col("h"), F.col(id_col))
    return (df.select(F.col(id_col), h.alias("h"), shard.alias("shard"))
            .withColumn("pos", F.row_number().over(w).cast("long"))
            .select(id_col, "shard", "pos"))


def apportion_counts(df: DataFrame, stratum_col: str, weight_col: str,
                     total: int) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer budget
    across strata: exactly ``total`` sample slots split proportionally
    to integer weights, the deterministic final step after
    :func:`mixing_plan` decides the proportions - float shares times a
    budget never sum to the budget; this does, provably.

    base_c = (w_c * total) div W; the leftover total - sum(base) slots
    go to the largest remainders (w_c * total) mod W, ties broken by
    stratum ascending. Pure integer arithmetic end to end. One groupBy
    to stratum cardinality, a broadcast 1-row total, and rank windows
    over the STRATA table (never data rows).

    Returns (stratum, weight, base, extra, alloc) with sum(alloc) ==
    total."""
    if total < 0:
        raise ValueError("total must be >= 0")
    w = (df.groupBy(F.col(stratum_col).alias("stratum"))
         .agg(F.sum(F.col(weight_col).cast("long")).alias("weight")))
    tot = w.agg(F.sum("weight").alias("wsum"),
                F.count("*").alias("n_strata"))
    q = (w.crossJoin(F.broadcast(tot))
         .withColumn("base", F.expr(f"(weight * {int(total)}) div wsum"))
         .withColumn("rem", F.expr(f"(weight * {int(total)}) % wsum")))
    leftovers = Window.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing)
    rank_w = Window.orderBy(F.col("rem").desc(), F.col("stratum"))
    return (q.withColumn("leftover",
                         F.lit(total) - F.sum("base").over(leftovers))
            .withColumn("rnk", F.row_number().over(rank_w))
            .withColumn("extra",
                        (F.col("rnk") <= F.col("leftover")).cast("long"))
            .select("stratum", "weight", "base", "extra",
                    (F.col("base") + F.col("extra")).alias("alloc")))


def ipf_raking(cells: DataFrame, row_col: str, col_col: str,
               row_targets: DataFrame, col_targets: DataFrame,
               n_iter: int = 3) -> DataFrame:
    """Iterative proportional fitting (raking) of a contingency table
    to target margins -> (row, col, n_obs, w_micro): survey-weighting
    / post-stratification for training-data mixing — reweight observed
    (row, col) cell counts so row sums match ``row_targets``
    (row, target) and column sums match ``col_targets`` (col, target),
    alternating margin scalings for ``n_iter`` rounds.

    Determinism: weights live in integer MICRO-units and every scaling
    is the lockstep integer div w' = (w * target * 1e6) div margin_sum
    — the train_quality_classifier_fixedpoint pattern, so both engines (and
    any partial-agg merge order) walk the identical integer sequence.
    The product w * target * 1e6 exceeds 2^63, so it runs in Spark
    DECIMAL(38,0) against DuckDB HUGEINT — measured bit-equal
    (Spark's decimal ``div`` is exact 128-bit as long as the QUOTIENT
    fits BIGINT, which it does: the quotient is the rescaled micro
    mass, <= max target * 1e6). Classical IPF converges
    geometrically; 3 lockstep rounds is the documented
    fixed-iteration contract (same stance as cluster.kmeans_fit /
    lm_quality).

    Scale shape: the CELL table is statistic-scale (|rows| x |cols|),
    so the margin sums are tiny windows; the corpus-scale work is
    whatever groupBy produced ``cells`` upstream. Margins with zero
    observed weight keep their cells at 0 (div guard)."""
    w_row = Window.partitionBy("_r")
    w_col = Window.partitionBy("_c")
    cur = (cells.select(F.col(row_col).alias("_r"),
                        F.col(col_col).alias("_c"),
                        F.col("cnt").cast("long").alias("n_obs"))
           .withColumn("w", F.col("n_obs") * F.lit(1_000_000)))
    rt = F.broadcast(row_targets.select(F.col(row_col).alias("_r"),
                                        F.col("target").alias("rt")))
    ct = F.broadcast(col_targets.select(F.col(col_col).alias("_c"),
                                        F.col("target").alias("ctg")))
    cur = cur.join(rt, "_r").join(ct, "_c")
    rescale = ("cast((cast(w as decimal(38,0)) * {t} * 1000000)"
               " div cast({s} as decimal(38,0)) as bigint)")
    for _ in range(n_iter):
        rsum = F.sum("w").over(w_row)
        cur = (cur.withColumn("_s", rsum)
               .withColumn("w", F.when(
                   F.col("_s") > 0,
                   F.expr(rescale.format(t="rt", s="_s")))
                   .otherwise(F.lit(0))).drop("_s"))
        csum = F.sum("w").over(w_col)
        cur = (cur.withColumn("_s", csum)
               .withColumn("w", F.when(
                   F.col("_s") > 0,
                   F.expr(rescale.format(t="ctg", s="_s")))
                   .otherwise(F.lit(0))).drop("_s"))
    return cur.select(F.col("_r").alias(row_col),
                      F.col("_c").alias(col_col), "n_obs",
                      F.col("w").cast("long").alias("w_micro"))


def dhondt_allocation(df: DataFrame, stratum_col: str,
                      weight_col: str, total: int) -> DataFrame:
    """Highest-averages (D'Hondt / Jefferson) apportionment of an
    integer budget across strata -> (stratum, weight, seats): the
    divisor-method sibling of :func:`apportion_counts` (Hamilton) -
    D'Hondt favours large strata, is immune to the Alabama paradox,
    and is the standard proportional scheduler for cache/sampling
    quota splits.

    Exact-integer contract: candidate (p, k) is stratum p's k-th
    quotient w_p/k for k = 1..total; the ``total`` best quotients win
    a seat. NO float quotient is ever formed - (p', k') beats (p, k)
    iff w'*k > w*k' (cross-multiplication; both factors <= w_max *
    total, far inside int64), ties broken by larger weight then
    stratum ascending, so the result is bit-exact on any engine.
    seats_p = #{k : rank(p, k) <= total}.

    Scale shape: one groupBy to the strata table (statistic scale);
    the candidate table is |strata| * total rows, compared all-pairs
    (a deliberate O((S*total)^2) driver-free join on a statistic-
    scale frame - document the budget if total*|strata| grows past
    ~10^4)."""
    if total < 0:
        raise ValueError("total must be >= 0")
    w = (df.groupBy(F.col(stratum_col).alias("stratum"))
         .agg(F.sum(F.col(weight_col).cast("long")).alias("weight")))
    cand = w.select("stratum", "weight",
                    F.explode(F.sequence(F.lit(1), F.lit(int(total))))
                    .alias("k"))
    other = cand.select(F.col("stratum").alias("s2"),
                        F.col("weight").alias("w2"),
                        F.col("k").alias("k2"))
    better = (F.col("w2") * F.col("k") > F.col("weight") * F.col("k2")) | \
        ((F.col("w2") * F.col("k") == F.col("weight") * F.col("k2"))
         & ((F.col("w2") > F.col("weight"))
            | ((F.col("w2") == F.col("weight"))
               & (F.col("s2") < F.col("stratum")))))
    n_better = (cand.join(other, better, "left")
                .groupBy("stratum", "weight", "k")
                .agg(F.count("s2").alias("nb")))
    return (n_better.groupBy("stratum")
            .agg(F.max("weight").alias("weight"),
                 F.sum(F.when(F.col("nb") < total, 1).otherwise(0))
                 .cast("long").alias("seats")))


def systematic_pps(df: DataFrame, weight_col: str,
                   n_samples: int, id_col: str = "doc_id",
                   bucket_size: int = 1000) -> DataFrame:
    """Madow systematic probability-proportional-to-size sampling ->
    (id, weight, n_copies) for every selected row: lay the items on
    the cumulative-weight line in ``id_col`` order and take the
    ``n_samples`` grid points (W/n apart, deterministic midpoint
    start W/2n) — THE classic exact-PPS design for weighted corpus
    subsampling (quality-weighted doc selection, mixture draws):
    zero variance in total picks, items with weight > W/n selected
    multiple times (n_copies), inclusion probability exactly
    proportional to weight.

    All integer: item i with cumulative interval (C_{i-1}, C_i] gets
    n_copies = f(C_i) - f(C_{i-1}) where
    f(C) = (C*n + W - W div 2) div W - 1 — the grid-point count, with
    the +W shift keeping the dividend positive so Spark's
    truncate-toward-zero div IS floor div (engine-lockstep).

    Scale shape: the global cumulative sum never uses a
    single-partition window — per-bucket (id div bucket_size) local
    cumsums plus a statistic-scale bucket-offset join (the
    quantile_normalize / suffix_array global-rank scheme)."""
    d = df.select(F.col(id_col).alias("id"),
                  F.col(weight_col).cast("long").alias("w")) \
        .filter(F.col("w") > 0)
    d = d.withColumn("bkt", F.expr(f"id div {int(bucket_size)}"))
    wloc = Window.partitionBy("bkt").orderBy("id")
    d = d.withColumn("loc", F.sum("w").over(wloc))
    btot = d.groupBy("bkt").agg(F.sum("w").alias("bw"))
    wb = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1)
    boff = btot.select("bkt",
                       F.coalesce(F.sum("bw").over(wb), F.lit(0))
                       .alias("off"))
    d = (d.join(F.broadcast(boff), "bkt")
         .withColumn("c_hi", F.col("off") + F.col("loc"))
         .withColumn("c_lo", F.col("c_hi") - F.col("w")))
    tot = d.agg(F.sum("w").alias("wtot"))
    n = int(n_samples)
    picked = (d.crossJoin(F.broadcast(tot))
              .withColumn("f_hi", F.expr(
                  f"(c_hi * {n} + wtot - wtot div 2) div wtot - 1"))
              .withColumn("f_lo", F.expr(
                  f"(c_lo * {n} + wtot - wtot div 2) div wtot - 1"))
              .withColumn("n_copies",
                          (F.col("f_hi") - F.col("f_lo"))
                          .cast("long"))
              .filter(F.col("n_copies") > 0))
    return picked.select(F.col("id").alias(id_col),
                         F.col("w").alias("weight"), "n_copies")


def knapsack_select(df: DataFrame, group_col: str, weight_col: str,
                    value_col: str, capacity: int = 200) -> DataFrame:
    """Exact 0/1 knapsack per group -> (group, n_items, sum_weight,
    best_value): the optimal doc-selection-under-token-budget
    primitive (pick documents maximizing quality within a fixed
    context/mixture budget) — the exact counterpart of mixture_
    sample's proportional draws and pack_sequences' greedy fill
    (greedy packs everything; knapsack PICKS, optimally).

    The classic O(n * capacity) DP is per-group sequential, but its
    answer is ITEM-ORDER-INVARIANT (the dp table is a max-plus fold,
    same optimum any order), so determinism needs no order contract
    at all. applyInPandas per group, dp array of ``capacity + 1``
    BIGINTs; capacity is a small constant by contract (a budget in
    coarse units — rescale weights, don't raise capacity). The
    DuckDB twin steps a recursive CTE whose state is ONLY the dp
    list, joining each iteration to a pre-materialized indexed item
    table (state stays O(capacity), not O(items))."""
    import pandas as pd

    cap = int(capacity)
    out_schema = (f"{group_col} long, n_items long, sum_weight long, "
                  "best_value long")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf[group_col].iloc[0])
        dp = [0] * (cap + 1)
        for w, v in zip(pdf[weight_col], pdf[value_col]):
            w, v = int(w), int(v)
            if w > cap:
                continue
            for c in range(cap, w - 1, -1):
                cand = dp[c - w] + v
                if cand > dp[c]:
                    dp[c] = cand
        return pd.DataFrame({group_col: [g], "n_items": [len(pdf)],
                             "sum_weight": [int(pdf[weight_col].sum())],
                             "best_value": [dp[cap]]})

    return (df.select(F.col(group_col).cast("long"),
                      F.col(weight_col).cast("long"),
                      F.col(value_col).cast("long"))
            .groupBy(group_col).applyInPandas(fn, out_schema))


def greedy_set_cover(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     k: int = 8) -> DataFrame:
    """Greedy set cover -> (round, picked_doc, gain, covered_total):
    pick k documents that together cover as much of the corpus
    vocabulary as possible — coverage-based data selection (the
    submodular-maximization classic whose greedy is provably within
    1-1/e of optimal; the coverage-driven complement of
    dsir_selection's distribution matching and mixture_sample's
    proportional draws). Tie-break (gain desc, doc asc).

    Scale shape per round: explode DISTINCT (doc, term), anti-join
    the broadcast covered-set (model-sized: bounded by vocabulary,
    not corpus), one partial-agg count per doc, TakeOrdered 1. The
    k-round loop is driver-steered with model-sized state only —
    the kmeans/centroid pattern. The DuckDB twin replays the rounds
    with the doc term-lists as recursive list state, so the caller
    must stage a BOUNDED doc stratum (docstring contract; the gain
    argmax is otherwise engine-identical by the same tie-break)."""
    terms = (df.select(F.col(id_col).alias("d"),
                       F.explode(F.split(F.col(text_col), " "))
                       .alias("t"))
             .filter(F.col("t") != "").distinct()
             .localCheckpoint())
    spark = df.sparkSession
    covered: list = []
    rows = []
    total = 0
    for r in range(1, int(k) + 1):
        cur = terms
        if covered:
            cov_df = spark.createDataFrame(
                [(t,) for t in covered], "t string")
            cur = terms.join(F.broadcast(cov_df), "t", "left_anti")
        top = (cur.groupBy("d")
               .agg(F.count(F.lit(1)).cast("long").alias("g"))
               .orderBy(F.col("g").desc(), F.col("d"))
               .limit(1).collect())
        if not top or top[0]["g"] == 0:
            break
        doc, gain = int(top[0]["d"]), int(top[0]["g"])
        new_terms = [row["t"] for row in
                     cur.filter(F.col("d") == doc)
                     .select("t").collect()]
        covered.extend(new_terms)
        total += gain
        rows.append((r, doc, gain, total))
    return spark.createDataFrame(
        rows, "round long, picked_doc long, gain long,"
        " covered_total long")
