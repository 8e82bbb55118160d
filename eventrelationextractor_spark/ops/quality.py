"""FastText-style quality classifier — the missing classic of the
curation stack (Joulin et al. 2016, arXiv:1607.01759; applied as the
GPT-3 / LLaMA / RefinedWeb quality filter: train a linear classifier to
separate a high-quality reference corpus from random crawl text, score
every crawl document with it, keep the high scorers).

Model: logistic regression over hashed-bigram bag features, the same
feature space as DSIR (`ops/mixing.py::dsir_weights` — bigram text
hashed to ``n_buckets`` md5 buckets) so the two selection methods are
directly comparable on one corpus. A document's feature vector is its
bucket-count vector normalized by its total bigram count (fastText's
mean-of-inputs), plus a bias.

Training is full-batch gradient descent with a FIXED iteration count
and deterministic zero init — the same engine-replayable contract as
``ops/cluster.py::kmeans_fit``: no RNG, no convergence test, weights
rounded to 9 decimals after every update so the SQL oracle can replay
the iterations in lockstep regardless of floating-sum order.

Scale shape (per iteration, the classic broadcast-GLM formulation):

* The model is ``n_buckets + 1`` doubles — broadcast, never sharded.
  Margins come from ONE broadcast hash join (features × weights) and a
  per-doc partial-agged sum; no literal expression tree, so plan size
  is constant in ``n_buckets`` (the IVF lesson).
* The gradient is a partial-agged groupBy collapsing map output to
  ``<= n_buckets`` rows per task before the exchange; the only collect
  per iteration is those ``n_buckets`` rows plus a 1-row bias aggregate
  — never the corpus.
* The doc×bucket feature table is reused every iteration: ``.cache()``
  here (telemetry scale); at 100 TB materialize it once to a bucketed
  parquet/Iceberg table instead, exactly like ``jaccard_pairs``'s
  ``shingle_table_path``.

Label contract: training rows are documents where the caller's
``label`` column/predicate evaluates non-null (1.0 = reference /
high-quality, 0.0 = background). Documents with fewer than two words
have no features and are skipped in training; scoring gives them
``sigmoid(bias)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["hashed_bigram_features", "train_quality_classifier",
           "score_quality", "train_quality_classifier_fixedpoint",
           "score_quality_fixedpoint"]


def hashed_bigram_features(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           n_buckets: int = 64) -> DataFrame:
    """(id, bucket, cnt, n): per-document hashed-bigram bucket counts
    plus the doc's total bigram count ``n``. The hash is the DSIR
    construction — md5 of the space-joined bigram, first 8 hex digits,
    mod ``n_buckets`` — entirely map-side (within-row slice/zip then
    one partial-agged groupBy on (id, bucket))."""
    from .dedup import normalized_text
    words = F.filter(F.split(normalized_text(F.col(text_col)), " "),
                     lambda w: w != "")
    base = df.select(F.col(id_col), words.alias("ws")) \
        .filter(F.size("ws") >= 2)
    grams = (base
             .withColumn("a", F.expr("slice(ws, 1, size(ws) - 1)"))
             .withColumn("b", F.expr("slice(ws, 2, size(ws) - 1)"))
             .select(id_col, F.explode(F.arrays_zip("a", "b")).alias("p"))
             .select(id_col,
                     (F.conv(F.substring(F.md5(
                         F.concat_ws(" ", F.col("p.a"), F.col("p.b"))),
                         1, 8), 16, 10).cast("long")
                      % n_buckets).alias("bucket")))
    per_bucket = grams.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("cnt"))
    n = per_bucket.groupBy(id_col).agg(F.sum("cnt").alias("n"))
    return per_bucket.join(n, id_col)


def _margins(feat: DataFrame, weights: list, bias: float,
             id_col: str) -> DataFrame:
    """(id, margin): bias + sum_b w_b * cnt_b / n via a broadcast join
    with the (bucket, w) model table and one per-doc partial agg."""
    spark = feat.sparkSession
    wdf = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)],
        "bucket long, w double")
    return (feat.join(F.broadcast(wdf), "bucket")
            .groupBy(id_col)
            .agg((F.lit(float(bias))
                  + F.sum(F.col("w") * F.col("cnt") / F.col("n")))
                 .alias("margin")))


def train_quality_classifier(df: DataFrame, label,
                             n_buckets: int = 64, n_iter: int = 2,
                             lr: float = 5.0, id_col: str = "doc_id",
                             text_col: str = "text"):
    """Fixed-iteration full-batch logistic regression. ``label`` is a
    Column evaluating to 1.0/0.0 (map-side computable). Returns
    ``(weights, bias)`` — a list of ``n_buckets`` floats and a float,
    each rounded to 9 decimals per update (the oracle-lockstep
    contract). Iteration 1 starts from w = 0, so every margin is 0 and
    every probability exactly 0.5 — the oracle replays that in closed
    form."""
    feat = hashed_bigram_features(df, id_col, text_col, n_buckets).cache()
    lab = df.select(F.col(id_col), label.cast("double").alias("y")) \
        .filter(F.col("y").isNotNull())
    # training set = labeled docs that produced features
    fl = feat.join(lab, id_col)
    n_train = fl.select(id_col).distinct().count()
    if n_train == 0:
        raise ValueError("no labeled documents with >= 2 words to train on")

    weights = [0.0] * n_buckets
    bias = 0.0
    for _ in range(n_iter):
        m = _margins(fl, weights, bias, id_col)
        err = (m.join(lab, id_col)
               .select(id_col,
                       (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))
                        - F.col("y")).alias("err")))
        g_rows = (fl.join(err, id_col)
                  .groupBy("bucket")
                  .agg((F.sum(F.col("err") * F.col("cnt") / F.col("n"))
                        / n_train).alias("g"))
                  .collect())
        g_bias = err.agg(F.avg("err").alias("g")).first().g
        g = {int(r.bucket): r.g for r in g_rows}
        weights = [round(w - lr * g.get(b, 0.0), 9)
                   for b, w in enumerate(weights)]
        bias = round(bias - lr * g_bias, 9)
    return weights, bias


_UPM = 1_000_000  # fixed-point scale: 1.0 == 1e6 micro-units


def _fast_sigmoid_upm(m):
    """f(x) = 1/2 + x / (2 * (1 + |x|)) in integer micro-units: a
    rational sigmoid surrogate (Elliott 1993) whose evaluation is pure
    BIGINT +,*,abs,trunc-div — NO exp(), so it is bit-identical on any
    engine/libm, unlike the true logistic whose last-ulp exp() drift
    flips 6dp-rounded outputs across JVM/DuckDB builds. Monotone,
    range (0, 1), f(0) = 1/2 exactly."""
    return (F.lit(500_000).cast("long")
            + F.expr(f"(500000 * ({m})) div (2 * ({_UPM} + abs({m})))"))


def _margins_upm(feat: DataFrame, weights_upm: list, bias_upm: int,
                 id_col: str) -> DataFrame:
    """(id, margin_upm): b + sum_b tdiv(w_b * cnt_b, n) — each term
    trunc-divided BEFORE the sum so every intermediate is a BIGINT and
    the aggregation is an exact integer sum (commutative under any
    partial-agg merge order, unlike a float sum)."""
    spark = feat.sparkSession
    wdf = spark.createDataFrame(
        [(i, int(w)) for i, w in enumerate(weights_upm)],
        "bucket long, w_upm long")
    return (feat.join(F.broadcast(wdf), "bucket")
            .groupBy(id_col)
            .agg((F.lit(int(bias_upm)).cast("long")
                  + F.sum(F.expr("(w_upm * cnt) div n")))
                 .alias("margin_upm")))


def train_quality_classifier_fixedpoint(
        df: DataFrame, label, n_buckets: int = 64, n_iter: int = 2,
        lr_x: int = 5, id_col: str = "doc_id",
        text_col: str = "text"):
    """Deterministic fixed-point twin of ``train_quality_classifier``:
    the whole training loop — margins, the sigmoid surrogate, errors,
    gradients, weight updates — runs in BIGINT micro-units (1e-6), so
    the learned model is bit-identical across engines, JVM builds,
    partial-agg merge orders AND libm versions. This is the
    reproducible-training formulation production pipelines use when a
    model must be re-derivable from the data lineage (deterministic
    fixed-point accumulation); the float version stays for callers who
    want the exact logistic.

    ``lr_x`` is an integer learning rate (default 5 == the float
    version's lr=5.0). Returns ``(weights_upm, bias_upm)`` — ints.
    Iteration 1 from zero weights gives margin 0 and p == 500000
    micro exactly (the oracle's closed form)."""
    feat = hashed_bigram_features(df, id_col, text_col, n_buckets).cache()
    lab = df.select(F.col(id_col), label.cast("double").alias("y")) \
        .filter(F.col("y").isNotNull()) \
        .select(id_col, (F.col("y") * _UPM).cast("long").alias("y_upm"))
    fl = feat.join(lab, id_col)
    n_train = fl.select(id_col).distinct().count()
    if n_train == 0:
        raise ValueError("no labeled documents with >= 2 words to train on")

    def tdiv(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    weights = [0] * n_buckets
    bias = 0
    for _ in range(n_iter):
        m = _margins_upm(fl, weights, bias, id_col)
        err = (m.join(lab, id_col)
               .select(id_col,
                       (_fast_sigmoid_upm("margin_upm")
                        - F.col("y_upm")).alias("err_upm")))
        g_rows = (fl.join(err, id_col)
                  .groupBy("bucket")
                  .agg(F.sum(F.expr("(err_upm * cnt) div n"))
                       .alias("g_num"))
                  .collect())
        gb_num = err.agg(F.sum("err_upm").alias("g")).first().g
        g = {int(r.bucket): int(r.g_num) for r in g_rows}
        weights = [w - lr_x * tdiv(g.get(b, 0), n_train)
                   for b, w in enumerate(weights)]
        bias = bias - lr_x * tdiv(int(gb_num), n_train)
    return weights, bias


def score_quality_fixedpoint(df: DataFrame, weights_upm: list,
                             bias_upm: int, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """(id, n_bigrams, score_upm): integer micro-unit quality score for
    EVERY document under a fixed-point model (docs without features
    score the sigmoid surrogate of the bias with n_bigrams = 0). Same
    plan shape as ``score_quality``; every output column is BIGINT."""
    feat = hashed_bigram_features(df, id_col, text_col, len(weights_upm))
    m = _margins_upm(feat, weights_upm, bias_upm, id_col)
    n = feat.groupBy(id_col).agg(F.max("n").alias("n_bigrams"))
    base = (df.select(id_col).join(m, id_col, "left")
            .join(n, id_col, "left")
            .select(id_col,
                    F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                    F.coalesce("margin_upm",
                               F.lit(int(bias_upm)).cast("long"))
                    .alias("m_upm")))
    return base.select(id_col, "n_bigrams",
                       _fast_sigmoid_upm("m_upm").alias("score_upm"))


def score_quality(df: DataFrame, weights: list, bias: float,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, n_bigrams, prob): sigmoid quality score for EVERY document
    under a trained model (docs without features score
    ``sigmoid(bias)`` with n_bigrams = 0). One broadcast join + one
    per-doc partial agg + a left join back to the id set — map-side
    except the per-doc aggregation."""
    feat = hashed_bigram_features(df, id_col, text_col, len(weights))
    m = _margins(feat, weights, bias, id_col)
    n = feat.groupBy(id_col).agg(F.max("n").alias("n_bigrams"))
    return (df.select(id_col).join(m, id_col, "left")
            .join(n, id_col, "left")
            .select(id_col,
                    F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                    F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(
                        -F.coalesce("margin", F.lit(float(bias))))), 6)
                    .alias("prob")))


def cohens_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement between two label
    columns -> ONE row (n, n_agree, po, pe, kappa). The label-quality
    gate for any human- or model-annotated training slice: raw
    agreement (po) overstates reliability when the label distribution
    is skewed; kappa subtracts the chance-agreement floor (pe).

    kappa = (n*agree - sum_k nA_k*nB_k) / (n^2 - sum_k nA_k*nB_k) -
    every term an exact integer (two marginal groupBys over LABEL
    cardinality joined on label, one crossJoin of single-row
    aggregates), then three single divisions rounded 6dp. No float
    accumulates across rows, so the statistic is engine-exact.
    n^2 caps the exact branch at ~3e9 items per call; shard the
    corpus and kappa per shard beyond that."""
    base = df.select(F.col(a_col).cast("string").alias("a"),
                     F.col(b_col).cast("string").alias("b"))
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("n"),
                   F.sum(F.when(F.col("a") == F.col("b"), 1)
                         .otherwise(0)).cast("long").alias("n_agree"))
    ma = base.groupBy(F.col("a").alias("lbl")).agg(
        F.count(F.lit(1)).cast("long").alias("na"))
    mb = base.groupBy(F.col("b").alias("lbl")).agg(
        F.count(F.lit(1)).cast("long").alias("nb"))
    pe = (ma.join(mb, "lbl")
          .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")), F.lit(0))
               .cast("long").alias("pe_num")))
    return (tot.crossJoin(pe)
            .select("n", "n_agree",
                    F.round(F.col("n_agree").cast("double")
                            / F.col("n"), 6).alias("po"),
                    F.round(F.col("pe_num").cast("double")
                            / (F.col("n") * F.col("n")).cast("double"), 6)
                    .alias("pe"),
                    F.round(F.when(
                        F.col("n") * F.col("n") != F.col("pe_num"),
                        (F.col("n") * F.col("n_agree")
                         - F.col("pe_num")).cast("double")
                        / (F.col("n") * F.col("n")
                           - F.col("pe_num")).cast("double"))
                        .otherwise(F.lit(1.0)), 6).alias("kappa")))


def roc_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Tie-aware ROC AUC in exact integer arithmetic -> ONE row
    (n_pos, n_neg, auc_num2, auc_den2, auc). The ranking-quality twin
    of ``calibration_table``: calibration asks whether the score's
    VALUE means anything, AUC asks whether its ORDER does — the gate
    on any scorer used to rank (not just threshold) corpus admission.

    AUC is the Mann–Whitney statistic: P(score_pos > score_neg) +
    0.5*P(tie). Computed over SCORE GROUPS, not rows: one groupBy
    collapses the corpus to (score -> n_pos_g, n_neg_g), then a
    window ordered by score accumulates negatives-strictly-below, and

        auc_num2 = sum_g n_pos_g * (2*cum_neg_below_g + n_neg_g)
        auc_den2 = 2 * n_pos * n_neg

    — every term an exact integer (ties contribute the n_neg_g term,
    i.e. exactly 1/2 each), so the statistic is engine-exact; the only
    float is the final 6dp division. Degenerate single-class input
    yields auc = NULL rather than a fabricated 0.5.

    Scale shape: one partial-agged groupBy over score cardinality,
    then the unpartitioned cumulative window runs over SCORE-DISTINCT
    rows only (the HDR-sketch 'window over sketch rows' shape) — fine
    for bounded scores (ppm, centiban, quantized); for unbounded float
    scores bucketize first, which is what a 100-TB ranking eval does
    anyway."""
    from pyspark.sql import Window

    g = (df.select(F.col(score_col).cast("long").alias("score"),
                   F.when(F.col(label_col).cast("boolean"), 1)
                   .otherwise(0).alias("pos"))
         .groupBy("score")
         .agg(F.sum("pos").cast("long").alias("np"),
              F.sum(F.expr("1 - pos")).cast("long").alias("nn")))
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    terms = g.select(
        "np", "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("cum_nn"))
    agg = terms.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.sum(F.col("np") * (2 * F.col("cum_nn") + F.col("nn")))
        .cast("long").alias("auc_num2"))
    return agg.select(
        "n_pos", "n_neg", "auc_num2",
        (2 * F.col("n_pos") * F.col("n_neg")).alias("auc_den2"),
        F.round(F.when(F.col("n_pos") * F.col("n_neg") > 0,
                       F.col("auc_num2").cast("double")
                       / (2.0 * F.col("n_pos") * F.col("n_neg"))), 6)
        .alias("auc"))


def calibration_table(df: DataFrame, score_ppm_col: str, label_col: str,
                      n_bins: int = 10) -> DataFrame:
    """Reliability diagram for a [0,1)-score in exact integer ppm ->
    (bin, n, n_pos, avg_conf_ppm, pos_rate_ppm, gap_ppm, ece_num):
    does a classifier's confidence mean anything, per confidence bin?
    The acceptance check before a quality/spam score gates corpus
    admission at scale - an uncalibrated score silently reweights the
    corpus.

    Everything is integer: bins by ppm div, per-bin confidence mean
    and positive rate as floor divisions of exact sums, gap =
    |conf - rate| in ppm, and ece_num = n * gap (sum it and divide by
    total n for the scalar ECE - left to the caller so the table stays
    engine-exact). One partial-agged groupBy over n_bins output rows."""
    width = 1000000 // int(n_bins)
    b = df.select(
        F.expr(f"cast({score_ppm_col} as bigint) div {width}").alias("bin"),
        F.col(score_ppm_col).cast("long").alias("conf"),
        F.when(F.col(label_col).cast("boolean"), F.lit(1))
        .otherwise(F.lit(0)).alias("pos"))
    agg = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("conf").cast("long").alias("conf_sum"))
    return (agg.select(
        "bin", "n", "n_pos",
        F.expr("conf_sum div n").alias("avg_conf_ppm"),
        F.expr("(1000000 * n_pos) div n").alias("pos_rate_ppm"))
        .withColumn("gap_ppm",
                    F.abs(F.col("avg_conf_ppm") - F.col("pos_rate_ppm"))
                    .cast("long"))
        .withColumn("ece_num", (F.col("n") * F.col("gap_ppm"))
                    .cast("long")))


def pr_curve(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Precision/recall curve over score thresholds -> one row per
    DISTINCT score, descending-threshold semantics ("predict positive
    when score >= threshold"): (threshold, tp, fp, fn, precision_ppm,
    recall_ppm, f1_ppm) — every column an exact integer, so the curve
    is engine-exact under the value-hash gate. The threshold-sweep
    companion of ``roc_auc``: AUC summarizes the ranking in one number,
    the curve shows WHERE the precision/recall trade sits for picking
    an operating point (the actual decision a corpus-admission filter
    has to make).

    precision_ppm = 1e6*tp div (tp+fp); recall_ppm = 1e6*tp div n_pos;
    f1_ppm = 2e6*tp div (2*tp + fp + fn) — the exact-integer harmonic
    mean (denominator never zero when tp+fp >= 1 and n_pos >= 1; rows
    exist only at observed scores so tp+fp >= 1 always, and a zero-
    positive corpus yields recall/f1 NULL via the when() guard rather
    than an ANSI division error).

    Scale shape: same as ``roc_auc`` — one partial-agged groupBy to
    score cardinality, then the cumulative window runs over SCORE-
    DISTINCT rows only; bucketize unbounded float scores upstream."""
    from pyspark.sql import Window

    g = (df.select(F.col(score_col).cast("long").alias("threshold"),
                   F.when(F.col(label_col).cast("boolean"), 1)
                   .otherwise(0).alias("pos"))
         .groupBy("threshold")
         .agg(F.sum("pos").cast("long").alias("np"),
              F.sum(F.expr("1 - pos")).cast("long").alias("nn")))
    w = Window.orderBy(F.col("threshold").desc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    cum = g.select(
        "threshold",
        F.sum("np").over(w).cast("long").alias("tp"),
        F.sum("nn").over(w).cast("long").alias("fp"),
        F.sum("np").over(wall).cast("long").alias("n_pos"))
    return cum.select(
        "threshold", "tp", "fp",
        (F.col("n_pos") - F.col("tp")).cast("long").alias("fn"),
        F.expr("(1000000 * tp) div (tp + fp)").alias("precision_ppm"),
        F.when(F.col("n_pos") > 0, F.expr("(1000000 * tp) div n_pos"))
        .alias("recall_ppm"),
        F.when(F.col("n_pos") > 0,
               F.expr("(2000000 * tp) div (2 * tp + fp + (n_pos - tp))"))
        .alias("f1_ppm"))


def ks_two_sample(df: DataFrame, value_col: str, flag_col: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance in exact integer
    arithmetic -> ONE row (n_a, n_b, d_num, d_ppm). The distribution-
    drift gate between two corpus slices (this week's crawl vs last
    week's, one source vs another): D = max_v |ECDF_a(v) - ECDF_b(v)|,
    computed as the integer

        d_num = max_v |cum_a(v) * n_b  -  cum_b(v) * n_a|

    over the merged value support, so d_ppm = 1e6 * d_num div
    (n_a * n_b) is engine-exact (``flag_col`` true -> sample a).
    Degenerate empty side yields d_ppm NULL via the when() guard.

    Scale shape: one partial-agged groupBy to value cardinality, then
    the cumulative window runs over VALUE-DISTINCT rows only (the
    ``roc_auc`` shape) — bucketize unbounded float values upstream,
    which is what a 100-TB drift monitor does anyway."""
    from pyspark.sql import Window

    g = (df.select(F.col(value_col).cast("long").alias("v"),
                   F.when(F.col(flag_col).cast("boolean"), 1)
                   .otherwise(0).alias("ia"))
         .groupBy("v")
         .agg(F.sum("ia").cast("long").alias("ca"),
              F.sum(F.expr("1 - ia")).cast("long").alias("cb")))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    cum = g.select(
        F.sum("ca").over(w).cast("long").alias("cum_a"),
        F.sum("cb").over(w).cast("long").alias("cum_b"))
    scored = cum.select(
        "cum_a", "cum_b",
        F.max("cum_a").over(wall).alias("ta"),
        F.max("cum_b").over(wall).alias("tb"))
    agg = scored.agg(
        F.max("ta").cast("long").alias("n_a"),
        F.max("tb").cast("long").alias("n_b"),
        F.max(F.abs(F.col("cum_a") * F.col("tb")
                    - F.col("cum_b") * F.col("ta")))
        .cast("long").alias("d_num"))
    return agg.select(
        "n_a", "n_b", "d_num",
        F.when(F.col("n_a") * F.col("n_b") > 0,
               F.expr("(1000000 * d_num) div (n_a * n_b)"))
        .alias("d_ppm"))


def chi_square_independence(df: DataFrame, a_col: str,
                            b_col: str) -> DataFrame:
    """Pearson chi-square independence diagnostics between two
    categorical columns -> one row per observed cell: (a, b, observed,
    row_n, col_n, n, expected, contrib). Counts are exact integers;
    ``expected`` = row_n*col_n/n and ``contrib`` = (observed-expected)^2
    /expected are 6dp-rounded per-ROW float expressions over those
    exact integers (no cross-partition float sum, so merge order can't
    bite — the reader sums ``contrib`` for the chi-square statistic and
    compares to the df=(R-1)(C-1) critical value). The independence
    screen for corpus telemetry: is event mix independent of weekday,
    is language independent of source, does a sharding key correlate
    with a quality tier.

    Scale shape: three partial-agged groupBys (cells, row margins, col
    margins — cell cardinality R*C), margins broadcast back onto the
    cell table; no window, no driver arithmetic."""
    d = df.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    cells = d.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("observed"))
    rows = d.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("row_n"))
    cols = d.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("col_n"))
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (cells.join(F.broadcast(rows), "a")
            .join(F.broadcast(cols), "b")
            .crossJoin(F.broadcast(n))
            .select(
                "a", "b", "observed", "row_n", "col_n", "n",
                F.round(F.col("row_n") * F.col("col_n")
                        / F.col("n").cast("double"), 6).alias("expected"),
                F.round(
                    F.pow(F.col("observed")
                          - F.col("row_n") * F.col("col_n")
                          / F.col("n").cast("double"), F.lit(2.0))
                    / (F.col("row_n") * F.col("col_n")
                       / F.col("n").cast("double")), 6).alias("contrib")))


#: round(log10(1 + 1/d) * 1e6) for d = 1..9 — sums to exactly 1e6.
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992,
               51153, 45757)


def benford_profile(df: DataFrame, amount_col: str) -> DataFrame:
    """First-significant-digit profile vs Benford's law -> one row per
    digit 1..9: (digit, n, observed_ppm, expected_ppm, dev_ppm). The
    classic anomaly screen for magnitude-spanning positive quantities
    (order totals, transfer amounts, view counts): organic multi-scale
    data follows log10(1 + 1/d); fabricated or truncated feeds don't.

    ``amount_col`` must be a positive integer magnitude (money in
    cents, counts) — non-positive rows are excluded from n. The first
    digit comes from the decimal string of the exact integer (no float
    log), expected_ppm is the shared literal table ``BENFORD_PPM``
    (sums to exactly 1e6), and observed_ppm = 1e6*n_d div n — every
    column an exact integer, digits with zero observations still
    emitted (left join against the 1..9 spine).

    Scale shape: one map-side digit extraction + one partial-agged
    9-group groupBy; the spine is 9 literal rows."""
    from pyspark.sql import Window

    digits = (df.select(F.col(amount_col).cast("long").alias("amt"))
              .filter(F.col("amt") > 0)
              .select(F.substring(F.col("amt").cast("string"), 1, 1)
                      .cast("int").alias("digit"))
              .groupBy("digit")
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    spark = df.sparkSession
    spine = spark.createDataFrame(
        [(d, int(BENFORD_PPM[d - 1])) for d in range(1, 10)],
        "digit int, expected_ppm long")
    joined = (spine.join(digits, "digit", "left")
              .select("digit", F.coalesce("n", F.lit(0)).cast("long")
                      .alias("n"), "expected_ppm"))
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    return (joined
            .withColumn("total", F.sum("n").over(wall).cast("long"))
            .select("digit", "n",
                    F.when(F.col("total") > 0,
                           F.expr("(1000000 * n) div total"))
                    .alias("observed_ppm"),
                    "expected_ppm",
                    F.when(F.col("total") > 0,
                           F.abs(F.expr("(1000000 * n) div total")
                                 - F.col("expected_ppm")))
                    .alias("dev_ppm")))


def token_label_mi(df: DataFrame, label, n_buckets: int = 64,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Mutual information + G^2 feature selection between hashed-bigram
    PRESENCE and a document label -> one row per observed bucket:
    (bucket, n11, n10, n01, n00, mi, g2). The question every filter
    pipeline asks before trusting a lexical feature: which token
    buckets actually carry signal about the label (quality tier,
    source, spam verdict), and which are noise. MI in bits ranks;
    Dunning's G^2 = 2*sum c*ln(N*c/(row*col)) gives the significance
    scale (chi-square with 1 df).

    Counts are document-level presence over the SAME feature space as
    ``train_quality_classifier``/DSIR (md5 bigram buckets), so selected
    buckets map directly onto classifier weights. n11/n10 come from one
    presence-distinct groupBy; n01/n00 derive from the broadcast label
    marginals (docs with < 2 words have no buckets and count as
    feature-absent, like any other doc without the feature). The four
    cell terms are per-ROW float expressions over exact integer counts
    (zero cells contribute 0 via when() guards), rounded 6dp.

    Scale shape: one distinct + one partial-agged groupBy at bucket
    cardinality, one 1-row broadcast — no window, no collect."""
    feat = hashed_bigram_features(df, id_col, text_col, n_buckets)
    pres = feat.select(id_col, "bucket").distinct()
    lab = df.select(F.col(id_col), label.cast("int").alias("y")) \
        .filter(F.col("y").isNotNull())
    tot = lab.agg(F.sum("y").cast("long").alias("n1"),
                  F.sum(F.expr("1 - y")).cast("long").alias("n0"))
    bc = (pres.join(lab, id_col)
          .groupBy("bucket")
          .agg(F.sum("y").cast("long").alias("n11"),
               F.sum(F.expr("1 - y")).cast("long").alias("n10")))
    base = (bc.crossJoin(F.broadcast(tot))
            .select("bucket", "n11", "n10",
                    (F.col("n1") - F.col("n11")).cast("long").alias("n01"),
                    (F.col("n0") - F.col("n10")).cast("long").alias("n00"),
                    (F.col("n1") + F.col("n0")).cast("long").alias("nn")))

    def _cell(c, row, col):
        ratio = (F.col("nn") * F.col(c)).cast("double") \
            / (row * col).cast("double")
        mi_t = F.when(F.col(c) > 0,
                      F.col(c) / F.col("nn").cast("double")
                      * F.log2(ratio)).otherwise(F.lit(0.0))
        g2_t = F.when(F.col(c) > 0,
                      F.col(c).cast("double") * F.log(ratio)) \
            .otherwise(F.lit(0.0))
        return mi_t, g2_t

    r1 = (F.col("n11") + F.col("n10"))     # feature present
    r0 = (F.col("n01") + F.col("n00"))     # feature absent
    c1 = (F.col("n11") + F.col("n01"))     # label 1
    c0 = (F.col("n10") + F.col("n00"))     # label 0
    cells = [_cell("n11", r1, c1), _cell("n10", r1, c0),
             _cell("n01", r0, c1), _cell("n00", r0, c0)]
    mi = sum((m for m, _ in cells), F.lit(0.0))
    g2 = sum((g for _, g in cells), F.lit(0.0))
    return base.select("bucket", "n11", "n10", "n01", "n00",
                       F.round(mi, 6).alias("mi"),
                       F.round(2.0 * g2, 6).alias("g2"))


def psi_buckets(df: DataFrame, bucket_col: str, flag_col: str,
                smooth_ppm: int = 100) -> DataFrame:
    """Population Stability Index cells between two corpus slices ->
    one row per bucket: (bucket, n_a, n_b, p_a_ppm, p_b_ppm, psi_term)
    over the union of observed buckets (``flag_col`` true -> slice a,
    the candidate; false -> b, the baseline). PSI = sum(psi_term) with
    the industry reading: < 0.1 stable, 0.1-0.25 drifting, > 0.25
    broken — the bucketed companion of ``ks_two_sample`` (KS feels the
    worst single point; PSI integrates shape change).

    Proportions are exact integer ppm floored at ``smooth_ppm`` (the
    standard zero-bucket smoothing — an empty cell otherwise makes the
    log term infinite), so psi_term = (p_a - p_b) * ln(p_a / p_b) is a
    per-ROW float over engine-exact integers (6dp). Degenerate empty
    slices yield NULL terms via when() guards.

    Scale shape: one partial-agged groupBy at bucket cardinality plus
    a 1-row broadcast of the slice totals — bucketize unbounded values
    upstream (the ks_two_sample contract)."""
    d = df.select(F.col(bucket_col).alias("bucket"),
                  F.when(F.col(flag_col).cast("boolean"), 1)
                  .otherwise(0).alias("ia"))
    g = d.groupBy("bucket").agg(
        F.sum("ia").cast("long").alias("n_a"),
        F.sum(F.expr("1 - ia")).cast("long").alias("n_b"))
    tot = d.agg(F.sum("ia").cast("long").alias("ta"),
                F.sum(F.expr("1 - ia")).cast("long").alias("tb"))
    base = g.crossJoin(F.broadcast(tot))
    pa = F.when(F.col("ta") > 0,
                F.greatest(F.expr("(1000000 * n_a) div ta"),
                           F.lit(int(smooth_ppm))).cast("long"))
    pb = F.when(F.col("tb") > 0,
                F.greatest(F.expr("(1000000 * n_b) div tb"),
                           F.lit(int(smooth_ppm))).cast("long"))
    term = ((pa - pb).cast("double") / 1e6
            * F.log(pa.cast("double") / pb.cast("double")))
    return base.select("bucket", "n_a", "n_b",
                       pa.alias("p_a_ppm"), pb.alias("p_b_ppm"),
                       F.round(term, 6).alias("psi_term"))


def naive_bayes_classify(df: DataFrame, label, n_buckets: int = 64,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Bernoulli-presence naive Bayes over the hashed-bigram feature
    space -> (doc_id, y, score0, score1, pred): the GENERATIVE
    counterpart to ``train_quality_classifier``'s discriminative LR,
    over the SAME buckets so weight/likelihood comparisons line up.
    Scoring uses presence terms only with add-one smoothing:
    score_c = ln(n_c / N) + sum over present buckets of
    ln((m_bc + 1) / (n_c + 2)); ``pred`` compares the two scores
    AFTER the 6dp round (ties -> class 0), so the argmax is the same
    decision both engines hash.

    Everything before the final ln() is exact integer counting: one
    presence-distinct groupBy builds the <= n_buckets-row likelihood
    table (broadcast-pinned — its true cardinality is bounded by
    construction, the AQE-estimate lesson in reverse), one 1-row
    prior aggregate rides a broadcast cross join, and docs too short
    to emit bigrams still classify on the prior alone via the left
    join from the label side. Scores are sums of <= n_buckets+1 logs
    of small-integer ratios — the pagerank determinism envelope.

    Scale shape: train + inference are ONE pass each over the feature
    rows (no iteration, unlike LR's GD): corpus-scale work is two
    partial-agged groupBys and a broadcast join; nothing wider than
    (doc, bucket) ever shuffles."""
    feat = hashed_bigram_features(df, id_col, text_col, n_buckets)
    pres = feat.select(id_col, "bucket").distinct()
    lab = df.select(F.col(id_col), label.cast("int").alias("y")) \
        .filter(F.col("y").isNotNull())
    tot = lab.agg(F.sum("y").cast("long").alias("n1"),
                  F.sum(F.expr("1 - y")).cast("long").alias("n0"))
    model = (pres.join(lab, id_col)
             .groupBy("bucket")
             .agg(F.sum("y").cast("long").alias("m1"),
                  F.sum(F.expr("1 - y")).cast("long").alias("m0")))
    lik = (pres.join(F.broadcast(model), "bucket")
           .crossJoin(F.broadcast(tot))
           .groupBy(id_col)
           .agg(F.sum(F.log((F.col("m0") + 1)
                            / (F.col("n0") + 2))).alias("l0"),
                F.sum(F.log((F.col("m1") + 1)
                            / (F.col("n1") + 2))).alias("l1")))
    prior = lab.crossJoin(F.broadcast(tot)).select(
        id_col, "y",
        F.log(F.col("n0") / (F.col("n0") + F.col("n1"))).alias("p0"),
        F.log(F.col("n1") / (F.col("n0") + F.col("n1"))).alias("p1"))
    s0 = F.round(F.col("p0") + F.coalesce("l0", F.lit(0.0)), 6)
    s1 = F.round(F.col("p1") + F.coalesce("l1", F.lit(0.0)), 6)
    return (prior.join(lik, id_col, "left_outer")
            .select(id_col, F.col("y").cast("long").alias("y"),
                    s0.alias("score0"), s1.alias("score1"),
                    F.when(s1 > s0, F.lit(1)).otherwise(F.lit(0))
                    .cast("long").alias("pred")))


def kendall_tau(df: DataFrame, key_col: str, x_col: str, y_col: str,
                id_col: str = "doc_id") -> DataFrame:
    """Kendall tau-b rank correlation per key -> (key, n, concordant,
    discordant, ties_x, ties_y, tau): do two scoring surfaces agree on
    ORDER — the ranking-stability check run whenever a quality model,
    index or sampler is swapped (Spearman answers 'same ranks', tau-b
    answers 'same pairwise decisions', which is what top-k selection
    actually consumes). Tie-corrected: tau_b = (C - D) /
    sqrt((n0 - T_x) * (n0 - T_y)) with n0 = n(n-1)/2 and T_* = pairs
    tied on that axis (both-ties count in each). Every count is an
    exact integer from sign comparisons on the pair join; the single
    sqrt+division happens once per key, 6dp.

    Pair volume is O(n_k^2) per key — the mann_kendall/theil_sen
    contract: run it on rankings (top-k lists, per-source samples),
    which are statistic-scale by construction; the pair generator is
    a keyed equi-join on the key column, never a loop join."""
    a = df.select(F.col(key_col).alias("k"), F.col(id_col).alias("ia"),
                  F.col(x_col).alias("xa"), F.col(y_col).alias("ya"))
    b = df.select(F.col(key_col).alias("k"), F.col(id_col).alias("ib"),
                  F.col(x_col).alias("xb"), F.col(y_col).alias("yb"))
    sx = F.signum((F.col("xb") - F.col("xa")).cast("double"))
    sy = F.signum((F.col("yb") - F.col("ya")).cast("double"))
    pairs = (a.join(b, "k").filter(F.col("ia") < F.col("ib"))
             .select("k", sx.alias("sx"), sy.alias("sy")))
    agg = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.when(F.col("sx") * F.col("sy") > 0, 1).otherwise(0))
        .cast("long").alias("concordant"),
        F.sum(F.when(F.col("sx") * F.col("sy") < 0, 1).otherwise(0))
        .cast("long").alias("discordant"),
        F.sum(F.when(F.col("sx") == 0, 1).otherwise(0))
        .cast("long").alias("ties_x"),
        F.sum(F.when(F.col("sy") == 0, 1).otherwise(0))
        .cast("long").alias("ties_y"))
    denom = F.sqrt(((F.col("n0") - F.col("ties_x"))
                    * (F.col("n0") - F.col("ties_y"))).cast("double"))
    tau = F.when(denom > 0,
                 F.round((F.col("concordant") - F.col("discordant"))
                         / denom, 6))
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).cast("long")
                                     .alias("n"))
    return (counts.join(agg.withColumnRenamed("k", key_col), key_col,
                        "left_outer")
            .select(key_col, "n",
                    F.coalesce("concordant", F.lit(0)).cast("long")
                    .alias("concordant"),
                    F.coalesce("discordant", F.lit(0)).cast("long")
                    .alias("discordant"),
                    F.coalesce("ties_x", F.lit(0)).cast("long")
                    .alias("ties_x"),
                    F.coalesce("ties_y", F.lit(0)).cast("long")
                    .alias("ties_y"),
                    tau.alias("tau")))


ISOTONIC_SCHEMA = ("grp long, x long, n long, pos long, "
                   "rate_ppm long")


def isotonic_calibrate(bins: DataFrame, group_col: str = "grp",
                       x_col: str = "x", n_col: str = "n",
                       pos_col: str = "pos") -> DataFrame:
    """Isotonic (PAV) calibration per group over pre-aggregated score
    bins -> (grp, x, n, pos, rate_ppm): the monotone-nondecreasing
    rate curve closest (weighted least squares) to the empirical
    per-bin positive rates. The standard scorer-calibration step
    (Zadrozny & Elkan KDD'02) after the calibration-diagram telemetry
    says a quality/spam scorer's raw scores aren't probabilities.

    Pool-adjacent-violators with EXACT integer arithmetic: block means
    are never materialized as floats - the merge test compares
    pos_prev * n_cur >= pos_cur * n_prev (cross multiplication), and
    adjacent equal-mean blocks DO merge (>=, not >), which makes the
    blocking canonical. Emitted rate_ppm = block_pos * 10^6 div
    block_n, which equals floor(10^6 * minimax value) - the SQL twin
    computes it via the closed minimax formula max_{j<=i} min_{k>=i}
    mean(y[j..k]) with the same floor scaling (floor is monotone, so
    it commutes with the min/max).

    Scale shape: input is one row per (group, bin) - statistic-scale
    by construction (the caller aggregates raw rows first, one
    partial-agged groupBy); the PAV itself is a per-group
    applyInPandas over <= n_bins rows. No window over raw data, no
    collect."""
    import pandas as pd

    def pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("x").reset_index(drop=True)
        # stack of blocks: [start_idx, n, pos]
        blocks = []
        for i in range(len(pdf)):
            blocks.append([i, int(pdf["n"][i]), int(pdf["pos"][i])])
            while (len(blocks) >= 2 and
                   blocks[-2][2] * blocks[-1][1]
                   >= blocks[-1][2] * blocks[-2][1]):
                s, n2, p2 = blocks.pop()
                blocks[-1][1] += n2
                blocks[-1][2] += p2
        rate = [0] * len(pdf)
        bounds = [b[0] for b in blocks] + [len(pdf)]
        for b, (s, n2, p2) in enumerate(blocks):
            r = p2 * 1000000 // n2
            for i in range(s, bounds[b + 1]):
                rate[i] = r
        out = pdf[["grp", "x", "n", "pos"]].copy()
        out["rate_ppm"] = rate
        return out

    staged = bins.select(F.col(group_col).alias("grp"),
                         F.col(x_col).alias("x"),
                         F.col(n_col).alias("n"),
                         F.col(pos_col).alias("pos"))
    return staged.groupBy("grp").applyInPandas(pav, ISOTONIC_SCHEMA)


def decision_stump(df: DataFrame, label, feature_col: str = "n_chars",
                   bucket_width: int = 16) -> DataFrame:
    """1-R decision-stump induction (Holte 1993 - the baseline every
    learned quality gate must beat, and the interpretable fallback a
    curation pipeline ships when it can't justify a model): the best
    single threshold split of a numeric feature by weighted Gini
    impurity.

    -> one row per CANDIDATE threshold (bucketed ``feature_col div
    bucket_width`` cuts - candidate count is bounded by the bucket
    range, not the corpus): (threshold, l_n, l_pos, r_n, r_pos,
    gini_ppm, is_best). ``threshold`` t means the left branch takes
    bucket <= t; splits with an empty side are excluded. gini_ppm is
    the EXACT integer
    ``(2e6 * (l_pos*l_neg*r_n + r_pos*r_neg*l_n)) div (l_n*r_n*n)``
    (weighted two-sided Gini over a common denominator - never a
    float comparison, so the argmin + lowest-threshold tie-break is
    engine-exact). is_best marks the stump the rule would ship.

    Scale shape: ONE partial-agg groupBy collapses the corpus to
    per-bucket (n, pos) counts; every candidate split then reads two
    cumulative windows over the bucket spine (statistic scale, ~range/
    bucket_width rows). No per-threshold pass over the data."""
    from pyspark.sql import Window
    lab = label if not isinstance(label, str) else F.col(label)
    bw = int(bucket_width)
    per = (df.select(F.expr(f"cast({feature_col} as bigint) div {bw}")
                     .alias("bucket"),
                     lab.cast("long").alias("y"))
           .groupBy("bucket")
           .agg(F.count("*").alias("n"), F.sum("y").alias("pos")))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tot = per.agg(F.sum("n").alias("tn"), F.sum("pos").alias("tp"))
    cand = (per
            .withColumn("l_n", F.sum("n").over(w))
            .withColumn("l_pos", F.sum("pos").over(w))
            .crossJoin(F.broadcast(tot))
            .select(F.col("bucket").alias("threshold"),
                    "l_n", "l_pos",
                    (F.col("tn") - F.col("l_n")).alias("r_n"),
                    (F.col("tp") - F.col("l_pos")).alias("r_pos"),
                    F.col("tn"))
            .filter((F.col("l_n") >= 1) & (F.col("r_n") >= 1))
            .withColumn("gini_ppm", F.expr(
                "(2000000 * (l_pos*(l_n-l_pos)*r_n + r_pos*(r_n-r_pos)*l_n))"
                " div (l_n * r_n * tn)")))
    best = Window.partitionBy(F.lit(1))
    return (cand
            .withColumn("best_g", F.min("gini_ppm").over(best))
            .withColumn("best_t", F.min(F.when(
                F.col("gini_ppm") == F.col("best_g"),
                F.col("threshold"))).over(best))
            .select("threshold", "l_n", "l_pos", "r_n", "r_pos",
                    "gini_ppm",
                    ((F.col("gini_ppm") == F.col("best_g"))
                     & (F.col("threshold") == F.col("best_t")))
                    .alias("is_best")))


def spearman_rho(df: DataFrame, key_col: str, x_col: str, y_col: str) \
        -> DataFrame:
    """Spearman rank correlation per key -> (key, n, rho): the
    rank-space complement of ``kendall_tau`` ("same ranks" vs "same
    pairwise decisions") and the SCALE path of the two - tau's pair
    join is O(n_k^2) per key, Spearman is two sorts and one agg, so
    it's the one you run when the groups are corpus-sized.

    Tie handling via average ranks kept EXACT: 2*avg_rank(v) =
    rank_asc(v) + n + 1 - rank_desc(v) (min asc rank + max asc rank),
    an integer - both rank() windows share the key partition, so
    Catalyst plans ONE Exchange with two Sorts (ReuseExchange). rho is
    then the Pearson correlation of the doubled ranks: every moment
    (sum, sum of squares, cross sum) is an exact integer aggregate,
    and the only floats are one sqrt + one division per key, rounded
    6dp. Degenerate keys (either axis constant) emit rho = NULL."""
    n_w = Window.partitionBy(key_col)
    rx_a = F.rank().over(Window.partitionBy(key_col).orderBy(
        F.col(x_col).asc()))
    rx_d = F.rank().over(Window.partitionBy(key_col).orderBy(
        F.col(x_col).desc()))
    ry_a = F.rank().over(Window.partitionBy(key_col).orderBy(
        F.col(y_col).asc()))
    ry_d = F.rank().over(Window.partitionBy(key_col).orderBy(
        F.col(y_col).desc()))
    cnt = F.count(F.lit(1)).over(n_w)
    ranked = df.select(
        F.col(key_col),
        (rx_a + cnt + 1 - rx_d).cast("long").alias("rx2"),
        (ry_a + cnt + 1 - ry_d).cast("long").alias("ry2"))
    agg = ranked.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("ry2").cast("long").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy"))
    # moment sums cast to DOUBLE BEFORE the cross products: doubled
    # ranks reach 2n, so the integer product n*sxx grows as 4n^4 and
    # wraps 2^63 near n ~ 39k rows per key — far short of the
    # corpus-sized-groups contract above. rho is a float surface;
    # double products are IEEE-identical on both engines (the oracle
    # mirrors the casts), same fix as cuped_ab's theta.
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    vx = nd * F.col("sxx").cast("double") - sxd * sxd
    vy = nd * F.col("syy").cast("double") - syd * syd
    num = nd * F.col("sxy").cast("double") - sxd * syd
    rho = F.when((vx > 0) & (vy > 0), F.round(num / F.sqrt(vx * vy), 6))
    return agg.select(key_col, "n", rho.alias("rho"))


def woe_iv(df: DataFrame, bin_col: str, label_col: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value table per feature bin ->
    (bin, n, n_pos, n_neg, woe, iv_term): the standard scorecard
    feature-screening transform (Siddiqi 2006) - how predictive is a
    binned feature of a binary outcome, bin by bin, and in total
    (IV = sum(iv_term): <0.02 useless, >0.3 strong).

        woe_k = ln( ((2*pos_k+1)/(2*POS)) / ((2*neg_k+1)/(2*NEG)) )
        iv_k  = (pos_k/POS - neg_k/NEG) * woe_k

    with the +0.5 Laplace half (as the exact integer 2k+1 over 2N) so
    empty cells stay finite. Counts are exact integers; woe/iv are a
    fixed expression DAG over those integers, rounded 6dp - engine-
    deterministic (the pmi/bm25 ln contract).

    Scale shape: one partial-agged groupBy to n_bins rows + a 1-row
    broadcast of the class totals."""
    b = df.select(F.col(bin_col).alias("bin"),
                  F.when(F.col(label_col).cast("boolean"), 1)
                  .otherwise(0).cast("long").alias("pos"))
    agg = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"))
    tot = agg.agg(F.sum("n_pos").alias("tp"),
                  F.sum(F.col("n") - F.col("n_pos")).alias("tn"))
    out = (agg.crossJoin(F.broadcast(tot))
           .withColumn("n_neg", (F.col("n") - F.col("n_pos"))
                       .cast("long")))
    woe = F.log(((2 * F.col("n_pos") + 1) * F.col("tn"))
                .cast("double")
                / ((2 * F.col("n_neg") + 1) * F.col("tp"))
                .cast("double"))
    iv = ((F.col("n_pos") / F.col("tp")
           - F.col("n_neg") / F.col("tn")) * woe)
    return out.select("bin", "n", "n_pos", "n_neg",
                      F.round(woe, 6).alias("woe"),
                      F.round(iv, 6).alias("iv_term"))


def target_encode_oof(df: DataFrame, cat_col: str, fold_col: str,
                      target_col: str) -> DataFrame:
    """Leakage-free (out-of-fold) target encoding -> one row per
    (category, fold): (cat, fold, n_cf, oof_mean_ppm). THE standard
    high-cardinality categorical encoder for tabular/ranking models -
    and the classic leakage bug factory: encoding a row with a mean
    that includes the row's own target leaks the label. The fix is
    K-fold: rows in fold f get the category mean computed over every
    OTHER fold,

        oof_ppm = 1e6 * (sum_cat - sum_cat_fold)
                  div (n_cat - n_cat_fold)

    falling back to the global prior when the category only occurs in
    that fold. Everything exact integer ppm (target is an integer by
    contract - a 0/1 label or cents).

    Scale shape: one (cat, fold) partial agg; per-cat totals derive
    from IT (statistic scale, never re-reading the corpus); the global
    prior is a 1-row broadcast. Join keys are (cat) and constants -
    no window, no corpus-sized join."""
    b = df.select(F.col(cat_col).alias("cat"),
                  F.col(fold_col).cast("long").alias("fold"),
                  F.col(target_col).cast("long").alias("t"))
    cf = b.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_cf"),
        F.sum("t").cast("long").alias("s_cf"))
    c = cf.groupBy("cat").agg(F.sum("n_cf").alias("n_c"),
                              F.sum("s_cf").alias("s_c"))
    g = cf.agg(F.sum("n_cf").alias("n_g"), F.sum("s_cf").alias("s_g"))
    out = cf.join(c, "cat").crossJoin(F.broadcast(g))
    oof = F.when(
        F.col("n_c") > F.col("n_cf"),
        F.expr("(1000000 * (s_c - s_cf)) div (n_c - n_cf)")).otherwise(
        F.expr("(1000000 * s_g) div n_g"))
    return out.select("cat", "fold", "n_cf",
                      oof.cast("long").alias("oof_mean_ppm"))


# Poisson(1) CDF thresholds scaled by 2^32 (exact integers, shared with
# the SQL oracle): a 32-bit md5-uniform u draws k = first index with
# u < THRESH[k], else 9. floor(CDF_k * 2^32) computed once offline.
POISSON1_THRESH = (1580030168, 3160060337, 3950075421, 4213413783,
                   4279248373, 4292415291, 4294609777, 4294923276,
                   4294962463)


def poisson_bootstrap_ci(df: DataFrame, id_col: str, value_col: str,
                         n_boot: int = 200,
                         seed: str = "bs") -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean -> ONE row
    (n_rows, n_boot, mean_ppm, lo_ppm, med_ppm, hi_ppm). THE
    distributed bootstrap (Chamandy et al., Google 2012): classic
    resampling needs the whole dataset per replicate, but Binomial(n,
    1/n) -> Poisson(1) as n grows, so every row independently draws a
    per-replicate weight in ONE streaming pass - mergeable, no
    coordination, the only bootstrap that works at 100 TB.

    Determinism: the weight is a CASE ladder of exact-integer
    comparisons - u32 = first 8 md5 hex digits of (seed:id:replicate)
    vs precomputed floor(CDF*2^32) thresholds - so both engines draw
    IDENTICAL weights. Replicate means are exact integer ppm; the CI
    picks fixed order statistics (rank ceil(0.025B) / B/2 / B -
    ceil(0.025B) + 1 of the sorted replicate means - rank 5/100/196
    at B=200).

    Scale shape: the explode is n_boot rows per input row, all
    map-side, collapsed by ONE (replicate) partial agg to n_boot rows;
    the order statistics are a window over n_boot rows. Value must be
    an integer by contract (counts/cents/ppm)."""
    b = int(n_boot)
    ladder = "CASE "
    for k, t in enumerate(POISSON1_THRESH):
        ladder += f"WHEN u32 < {t} THEN {k} "
    ladder += "ELSE 9 END"
    rep = (df.select(F.col(id_col).alias("rid"),
                     F.col(value_col).cast("long").alias("x"))
           .select("rid", "x", F.explode(F.sequence(
               F.lit(0), F.lit(b - 1))).alias("r"))
           .withColumn("u32", F.conv(F.substring(F.md5(F.concat_ws(
               ":", F.lit(seed), F.col("rid"), F.col("r"))), 1, 8),
               16, 10).cast("long"))
           .withColumn("w", F.expr(ladder)))
    means = (rep.groupBy("r").agg(
        F.sum(F.col("w") * F.col("x")).alias("swx"),
        F.sum("w").alias("sw"))
        .filter(F.col("sw") > 0)
        .select(F.expr("(1000000 * swx) div sw").alias("m")))
    # order statistics rank over the SURVIVING replicate count, not the
    # requested n_boot: on tiny inputs a replicate whose total weight
    # is 0 is dropped above, and fixed ranks k_hi = B - k_lo + 1 would
    # then overshoot the tail (NULL hi_ppm) and shift the quantiles
    w = Window.orderBy("m")
    cw = Window.partitionBy()
    ranked = (means.withColumn("rk", F.row_number().over(w))
              .withColumn("be", F.count(F.lit(1)).over(cw))
              .withColumn("k_lo", F.greatest(
                  F.lit(1).cast("long"),
                  F.expr("-((-25 * be) div 1000)")))  # ceil(0.025 * be)
              .withColumn("k_med", F.expr("greatest(1L, be div 2)"))
              .withColumn("k_hi", F.expr(
                  "be - greatest(1L, -((-25 * be) div 1000)) + 1")))
    pick = ranked.filter((F.col("rk") == F.col("k_lo"))
                         | (F.col("rk") == F.col("k_med"))
                         | (F.col("rk") == F.col("k_hi")))
    stats = df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr(f"(1000000 * sum(cast({value_col} as bigint)))"
               f" div count(*)").alias("mean_ppm"))
    agg = pick.agg(
        F.min(F.when(F.col("rk") == F.col("k_lo"), F.col("m")))
        .cast("long").alias("lo_ppm"),
        F.min(F.when(F.col("rk") == F.col("k_med"), F.col("m")))
        .cast("long").alias("med_ppm"),
        F.min(F.when(F.col("rk") == F.col("k_hi"), F.col("m")))
        .cast("long").alias("hi_ppm"))
    return (stats.crossJoin(F.broadcast(agg))
            .select("n_rows", F.lit(b).cast("long").alias("n_boot"),
                    "mean_ppm", "lo_ppm", "med_ppm", "hi_ppm"))


def cuped_ab(df: DataFrame, arm_col: str, y_col: str,
             x_col: str) -> DataFrame:
    """CUPED-adjusted A/B readout (Deng et al. WSDM'13) -> ONE row
    (n_a, n_b, mean_a_adj, mean_b_adj, theta, delta, z): variance
    reduction using a pre-experiment covariate x,

        y_adj = y - theta * (x - mean_x),  theta = cov(x, y) / var(x)

    (theta POOLED over both arms - the standard unbiased choice), then
    the two-sample z on the adjusted means. The experimentation
    primitive behind every guardrail dashboard; at 100-TB event scale
    the whole thing is one pass of integer moment sums.

    Every aggregate is an exact integer (y/x are counts/cents by
    contract); theta/means/z are one fixed expression DAG over those
    integers, 6dp - engine-deterministic, merge-order-proof."""
    b = df.select(
        F.when(F.col(arm_col).cast("boolean"), 1).otherwise(0)
        .alias("arm"),
        F.col(y_col).cast("long").alias("y"),
        F.col(x_col).cast("long").alias("x"))
    per = b.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"))
    g = per.agg(F.sum("n").alias("gn"), F.sum("sy").alias("gsy"),
                F.sum("sx").alias("gsx"), F.sum("syy").alias("gsyy"),
                F.sum("sxx").alias("gsxx"), F.sum("sxy").alias("gsxy"))
    j = (per.crossJoin(F.broadcast(g))
         # moment sums cast to DOUBLE BEFORE the cross products: the
         # integer products gn*gsxx / gn*gsxy overflow 2^63 around 1e9
         # rows of cents-scale values (silent wrap non-ANSI, error
         # under ANSI), far short of the one-pass 100-TB contract;
         # theta is a float surface anyway, and double arithmetic is
         # IEEE-identical on both engines (oracle mirrors the casts)
         .withColumn("theta", F.expr(
             "CASE WHEN CAST(gn AS DOUBLE) * CAST(gsxx AS DOUBLE)"
             " - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) > 0 THEN "
             "(CAST(gn AS DOUBLE) * CAST(gsxy AS DOUBLE)"
             " - CAST(gsx AS DOUBLE) * CAST(gsy AS DOUBLE))"
             " / (CAST(gn AS DOUBLE) * CAST(gsxx AS DOUBLE)"
             " - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE))"
             " ELSE 0.0 END"))
         .withColumn("mean_adj", F.expr(
             "CAST(sy AS DOUBLE) / n - theta *"
             " (CAST(sx AS DOUBLE) / n - CAST(gsx AS DOUBLE) / gn)"))
         .withColumn("var_adj", F.expr(
             "(CAST(syy AS DOUBLE) - 2 * theta * sxy"
             " + theta * theta * sxx) / n"
             " - (CAST(sy AS DOUBLE) / n - theta * sx / n)"
             " * (CAST(sy AS DOUBLE) / n - theta * sx / n)")))
    a = j.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("mean_adj").alias("ma"),
        F.col("var_adj").alias("va"), "theta")
    c = j.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("mean_adj").alias("mb"),
        F.col("var_adj").alias("vb"))
    out = a.crossJoin(F.broadcast(c))
    z = F.expr("CASE WHEN va / n_a + vb / n_b > 0 THEN "
               "(mb - ma) / sqrt(va / n_a + vb / n_b) ELSE 0.0 END")
    return out.select(
        "n_a", "n_b", F.round("ma", 6).alias("mean_a_adj"),
        F.round("mb", 6).alias("mean_b_adj"),
        F.round("theta", 6).alias("theta"),
        F.round(F.col("mb") - F.col("ma"), 6).alias("delta"),
        F.round(z, 6).alias("z"))


def mann_whitney_u(df: DataFrame, arm_col: str, value_col: str) \
        -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum test -> ONE row (n1, n2,
    u1_x2, z): the nonparametric two-sample location test - does arm 1
    stochastically dominate arm 0? The robust companion to
    ``cuped_ab``'s mean-based z when the metric is heavy-tailed
    (session lengths, byte counts - where a whale invalidates the
    t-statistic but not the rank statistic).

    Integer-exact core: doubled tie-averaged pooled ranks via
    rank_asc + n + 1 - rank_desc (the spearman_rho identity), so
    2*U1 = sum(R2 over arm 1) - n1*(n1+1) is an exact integer;
    tie correction T = sum(t^3 - t) over value-tie groups is an exact
    integer aggregate; z = (2*U1 - n1*n2) / sqrt(n1*n2/3 * ((n+1) -
    T/(n*(n-1)))) is one fixed expression DAG over those integers
    (the /3 not /12 absorbs the doubling), 6dp.

    Contract: pooled GLOBAL ranks - run it on a statistic-scale sample
    or stratum (the mann_kendall contract), not a raw 100-TB column."""
    b = df.select(
        F.when(F.col(arm_col).cast("boolean"), 1).otherwise(0)
        .alias("arm"), F.col(value_col).cast("long").alias("x"))
    ra = F.rank().over(Window.orderBy(F.col("x").asc()))
    rd = F.rank().over(Window.orderBy(F.col("x").desc()))
    cnt = F.count(F.lit(1)).over(Window.partitionBy())
    ranked = b.select("arm", "x",
                      (ra + cnt + 1 - rd).cast("long").alias("r2"))
    ties = (b.groupBy("x").agg(F.count(F.lit(1)).alias("t"))
            .agg(F.sum(F.col("t") * F.col("t") * F.col("t")
                       - F.col("t")).cast("long").alias("tt")))
    agg = ranked.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("arm") == 1, F.col("r2")).otherwise(0))
        .cast("long").alias("sr2"))
    j = agg.crossJoin(F.broadcast(ties))
    z = F.expr(
        "CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1 AND "
        "(CAST(n1 AS DOUBLE) * n2 / 3.0) * ((n1 + n2 + 1) "
        " - CAST(tt AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1))) > 0 "
        "THEN (CAST(sr2 - n1 * (n1 + 1) AS DOUBLE) - "
        "CAST(n1 AS DOUBLE) * n2) "
        "/ sqrt((CAST(n1 AS DOUBLE) * n2 / 3.0) * ((n1 + n2 + 1) "
        " - CAST(tt AS DOUBLE) / ((n1 + n2) * (n1 + n2 - 1)))) "
        "ELSE 0.0 END")
    return j.select("n1", "n2",
                    (F.col("sr2") - F.col("n1") * (F.col("n1") + 1))
                    .cast("long").alias("u1_x2"),
                    F.round(z, 6).alias("z"))


def conformal_intervals(df: DataFrame, group_col: str, value_col: str,
                        cal_pred, alpha_pct: int = 10) -> DataFrame:
    """Split-conformal prediction intervals per group -> (group,
    n_cal, pred, q_hat, n_test, n_covered, coverage_ppm).
    ``cal_pred`` is a boolean Column marking the CALIBRATION split
    (its complement is the test split). The predictor is the exact
    lower median of ``value_col`` over the calibration split per
    group; the conformal radius q_hat is the k-th smallest absolute
    calibration residual with k = ceil((n_cal + 1) * (1 - alpha)) —
    the finite-sample marginal-coverage guarantee of Vovk's split
    conformal (coverage >= 1 - alpha on exchangeable test points).

    Integer-pure: values are BIGINT, the median is rank-picked (no
    interpolation), k is exact integer ceil arithmetic, residuals and
    the coverage count are integers, coverage_ppm is an integer div.
    k is clamped to n_cal (k > n_cal means the conformal set is the
    whole line; a group that small reports its max residual and the
    clamp is visible as k == n_cal).

    Scale shape: two partial-agged groupBys over the corpus, windows
    only PARTITIONED by group (rank-pick of median and q_hat), one
    broadcast-sized join of per-group scalars back to the test split."""
    base = df.select(F.col(group_col).alias("g"),
                     F.col(value_col).cast("long").alias("x"),
                     cal_pred.alias("is_cal"))
    cal = base.filter("is_cal")
    # exact lower median via the cumulative-count pick (value-grouped,
    # so the window runs over distinct values, not rows)
    med = (cal.groupBy("g")
           .agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
           .join(cal.groupBy("g", "x")
                 .agg(F.count(F.lit(1)).alias("c")), "g")
           .withColumn("cum", F.sum("c").over(
               Window.partitionBy("g").orderBy("x")
               .rowsBetween(Window.unboundedPreceding, 0)))
           .filter(F.col("cum") * 2 >= F.col("n_cal") + 1)
           .groupBy("g", "n_cal")
           .agg(F.min("x").cast("long").alias("pred")))
    resid = (cal.join(F.broadcast(med), "g")
             .select("g", "n_cal",
                     F.abs(F.col("x") - F.col("pred")).alias("res")))
    k = F.expr(f"least(n_cal, "
               f"((n_cal + 1) * (100 - {alpha_pct}) + 99) div 100)")
    w_res = Window.partitionBy("g").orderBy("res")
    qhat = (resid.withColumn("rn", F.row_number().over(w_res))
            .filter(F.col("rn") == k)
            .select("g", F.col("res").cast("long").alias("q_hat")))
    test = (base.filter(~F.col("is_cal"))
            .join(F.broadcast(med.select("g", "n_cal", "pred")), "g")
            .join(F.broadcast(qhat), "g"))
    per = (test.groupBy("g", "n_cal", "pred", "q_hat")
           .agg(F.count(F.lit(1)).cast("long").alias("n_test"),
                F.sum((F.abs(F.col("x") - F.col("pred"))
                       <= F.col("q_hat")).cast("long"))
                .cast("long").alias("n_covered")))
    return per.select(F.col("g").alias(group_col), "n_cal", "pred",
                      "q_hat", "n_test", "n_covered",
                      F.expr("(1000000 * n_covered) div n_test")
                      .alias("coverage_ppm"))


def perm_fdr(doc_terms: DataFrame, side, top_m: int = 30,
             n_perm: int = 64, alpha_num: int = 1,
             alpha_den: int = 20) -> DataFrame:
    """Permutation test + Benjamini-Hochberg FDR, fully INTEGER ->
    (token, t_obs, perm_ge, rank, rejected): which of the top-m corpus
    tokens have usage that differs between the two document sides
    beyond chance, at FDR alpha = alpha_num/alpha_den.

    ``doc_terms`` = (doc_id, token, cnt); ``side`` = boolean Column on
    doc_id splitting the corpus. Statistic T = |sum_A cnt - sum_B cnt|
    per token. Null draws: n_perm seeded sign-flip permutations —
    flip(doc, b) = md5(doc_id:b) low-nibble parity, so BOTH engines
    draw the identical permutation set (the bootstrap_ci pattern).
    Empirical p_i = (1 + #{b: T_b >= T}) / (n_perm + 1) is RATIONAL,
    so the BH step-up condition p_(k) <= alpha*k/m becomes the exact
    integer comparison alpha_den*m*(1+c) <= alpha_num*k*(n_perm+1);
    reject every rank <= max qualifying k. No floats anywhere.

    Scale shape: the corpus-scale table is (docs x top_m) after the
    broadcast vocabulary semi-join; the permutation explode multiplies
    it by n_perm — the documented cost contract (B passes in one
    shuffle instead of B jobs). Everything downstream is
    statistic-scale (m rows)."""
    top = (doc_terms.groupBy("token")
           .agg(F.sum("cnt").cast("long").alias("tot"))
           .orderBy(F.col("tot").desc(), "token").limit(top_m)
           .select("token"))
    dt = (doc_terms.join(F.broadcast(top), "token")
          .groupBy("doc_id", "token")
          .agg(F.sum("cnt").cast("long").alias("cnt"))
          .withColumn("s", side.cast("int")))
    signed = F.col("cnt") * (1 - 2 * F.col("s"))
    obs = (dt.groupBy("token")
           .agg(F.abs(F.sum(signed)).cast("long").alias("t_obs")))
    perms = dt.crossJoin(
        F.broadcast(dt.sparkSession.range(n_perm)
                    .select(F.col("id").cast("int").alias("b"))))
    flip = F.expr("conv(substring(md5(concat(cast(doc_id as string),"
                  " ':', cast(b as string))), 1, 1), 16, 10) % 2") \
        .cast("int")
    sb = (F.col("s") + flip) % 2
    null_t = (perms.withColumn("sb", sb)
              .groupBy("token", "b")
              .agg(F.abs(F.sum(F.col("cnt") * (1 - 2 * F.col("sb"))))
                   .cast("long").alias("t_b")))
    cge = (null_t.join(F.broadcast(obs), "token")
           .groupBy("token", "t_obs")
           .agg(F.sum((F.col("t_b") >= F.col("t_obs")).cast("long"))
                .cast("long").alias("perm_ge")))
    w_rank = Window.orderBy("perm_ge", "token")
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    m = F.count(F.lit(1)).over(w_all)
    ranked = (cge.withColumn("rank",
                             F.row_number().over(w_rank).cast("long"))
              .withColumn("ok", (F.lit(alpha_den) * m
                                 * (1 + F.col("perm_ge"))
                                 <= F.lit(alpha_num) * F.col("rank")
                                 * F.lit(n_perm + 1)).cast("int")))
    kmax = F.coalesce(F.max(F.when(F.col("ok") == 1, F.col("rank")))
                      .over(w_all), F.lit(0))
    return ranked.select("token", "t_obs", "perm_ge", "rank",
                         (F.col("rank") <= kmax).cast("long")
                         .alias("rejected"))


def ipw_ate(df: DataFrame, stratum_col: str, arm_col, y_col: str) \
        -> DataFrame:
    """Inverse-propensity-weighted ATE with EXACT stratum propensities
    -> per-stratum (stratum, n, n1, sy1, sy0, t1_micro, t0_micro,
    used, ate_micro): the Horvitz-Thompson treatment-effect estimate
    where e_s = n1_s/n_s is the exact empirical propensity, so the
    per-stratum arm means inflate by n_s/n1_s (resp. n_s/n0_s) — the
    textbook identity under which IPW with estimated-within-stratum
    propensities EQUALS the stratified estimator. Strata violating
    positivity (an empty arm) are flagged used=0 and excluded from
    ate_micro, with their rows kept visible (silently dropping
    positivity violations is the classic IPW footgun).

    Integer contract: y must be pre-scaled integer units (cents /
    chars — the mann_whitney statistic-scale contract); terms are
    lockstep micro-unit divs, ate_micro = sum(t1-t0) div (N of used
    strata rows). Intermediate bound: 1e6 * sum_y * n per stratum
    must fit 2^63 — at bigger scales pre-aggregate y to coarser units.

    Scale shape: ONE corpus-scale groupBy (partial-agged conditional
    sums); everything after runs on the statistic-scale stratum table
    (unpartitioned windows there are fine)."""
    arm = arm_col if not isinstance(arm_col, str) else F.col(arm_col)
    per = (df.groupBy(F.col(stratum_col).alias("stratum"))
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(arm.cast("long")).cast("long").alias("n1"),
                F.sum(F.when(arm, F.col(y_col)).otherwise(F.lit(0)))
                .cast("long").alias("sy1"),
                F.sum(F.when(~arm, F.col(y_col)).otherwise(F.lit(0)))
                .cast("long").alias("sy0")))
    per = per.withColumn("used",
                         ((F.col("n1") > 0)
                          & (F.col("n1") < F.col("n"))).cast("long"))
    per = per.withColumn(
        "t1_micro", F.when(F.col("used") == 1,
                           F.expr("(1000000 * sy1 * n) div n1"))
        .otherwise(F.lit(0)).cast("long"))
    per = per.withColumn(
        "t0_micro", F.when(F.col("used") == 1,
                           F.expr("(1000000 * sy0 * n) div (n - n1)"))
        .otherwise(F.lit(0)).cast("long"))
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    # trunc-div twins on negatives too: Spark `div` and DuckDB `//`
    # both truncate toward zero (measured: -7 div 2 = -3 on both)
    per = (per
           .withColumn("_nu", F.sum(F.when(F.col("used") == 1,
                                           F.col("n")).otherwise(F.lit(0)))
                       .over(w_all))
           .withColumn("_df", F.sum(F.col("t1_micro")
                                    - F.col("t0_micro")).over(w_all)))
    return per.select(
        "stratum", "n", "n1", "sy1", "sy0", "t1_micro", "t0_micro",
        "used",
        F.when(F.col("_nu") > 0, F.expr("_df div _nu"))
        .otherwise(F.lit(0)).cast("long").alias("ate_micro"))


def did_estimate(df: DataFrame, treat_col, post_col, y_col: str) \
        -> DataFrame:
    """Difference-in-differences over a 2x2 (treat, post) design ->
    ONE row (n_00, n_01, n_10, n_11, m00..m11 micro means,
    did_micro): DiD = (m_treat_post - m_treat_pre)
    - (m_ctrl_post - m_ctrl_pre). Cell means are lockstep integer
    micro-units ((1e6 * sum) div n); the estimate is then exact
    arithmetic on four integers — merge-order-proof. y must be
    pre-scaled integer units (cents), the ipw_ate contract.

    Scale shape: one partial-agged groupBy to 4 cells; the pivot is a
    single-row conditional aggregation."""
    t = treat_col if not isinstance(treat_col, str) else F.col(treat_col)
    p = post_col if not isinstance(post_col, str) else F.col(post_col)
    cells = (df.groupBy(t.cast("int").alias("tr"),
                        p.cast("int").alias("po"))
             .agg(F.count(F.lit(1)).cast("long").alias("n"),
                  F.sum(y_col).cast("long").alias("sy")))
    cells = cells.withColumn("m", F.expr("(1000000 * sy) div n"))

    def pick(col, tr, po):
        return F.sum(F.when((F.col("tr") == tr) & (F.col("po") == po),
                            F.col(col)).otherwise(F.lit(0)))

    out = cells.agg(
        pick("n", 0, 0).cast("long").alias("n_00"),
        pick("n", 0, 1).cast("long").alias("n_01"),
        pick("n", 1, 0).cast("long").alias("n_10"),
        pick("n", 1, 1).cast("long").alias("n_11"),
        pick("m", 0, 0).cast("long").alias("m00_micro"),
        pick("m", 0, 1).cast("long").alias("m01_micro"),
        pick("m", 1, 0).cast("long").alias("m10_micro"),
        pick("m", 1, 1).cast("long").alias("m11_micro"))
    return out.withColumn(
        "did_micro",
        (F.col("m11_micro") - F.col("m10_micro")
         - (F.col("m01_micro") - F.col("m00_micro"))).cast("long"))


def eb_shrinkage(counts: DataFrame, group_col: str, k_col: str,
                 n_col: str) -> DataFrame:
    """Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    per-group rates -> (group, n, k, raw_ppm, strength, shrunk_ppm):
    the domain-prior smoother a corpus pipeline wants for per-host
    quality rates — small hosts pull hard toward the corpus mean,
    big hosts barely move. Prior strength S (pseudo-trials) from
    moment matching: S ~= m(1-m)/var(rates); posterior mean
    = (k + S*m) / (n + S).

    Integer contract (all lockstep divs, merge-order-proof):
    m_ppm = (1e6*K) div N over exact global sums; per-group
    r_ppm = (1e6*k) div n; var_pp2 = sum((r_ppm - m_ppm)^2) div G
    (an exact integer sum over the statistic-scale group table);
    S = clamp((m_ppm * (1e6 - m_ppm)) div max(var_pp2, 1), 1, 1e6);
    shrunk_ppm = (1e6*k + S*m_ppm) div (n + S). The observed-rate
    variance slightly overstates the true-rate variance (classic MoM
    bias -> mildly conservative shrinkage) — documented, not hidden.

    Scale shape: the input is already the per-group count table (one
    upstream corpus groupBy); windows here run over groups only."""
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    base = counts.select(F.col(group_col).alias("g"),
                         F.col(n_col).cast("long").alias("n"),
                         F.col(k_col).cast("long").alias("k"))
    base = base.withColumn("r_ppm", F.expr("(1000000 * k) div n"))
    m_ppm = F.expr("(1000000 * sk) div sn")
    base = (base
            .withColumn("sk", F.sum("k").over(w_all))
            .withColumn("sn", F.sum("n").over(w_all))
            .withColumn("m_ppm", m_ppm))
    base = base.withColumn(
        "var_pp2", F.expr("sum((r_ppm - m_ppm) * (r_ppm - m_ppm))"
                          " over () div count(1) over ()").cast("long"))
    s = F.expr("least(greatest((m_ppm * (1000000 - m_ppm))"
               " div greatest(var_pp2, 1), 1), 1000000)")
    base = base.withColumn("strength", s.cast("long"))
    return base.select(
        F.col("g").alias(group_col), "n", "k",
        F.col("r_ppm").alias("raw_ppm"), "strength",
        F.expr("(1000000 * k + strength * m_ppm) div (n + strength)")
        .cast("long").alias("shrunk_ppm"))


def boosted_stumps(df: DataFrame, feature_cols: list,
                   label_col: str, candidates: list,
                   n_rounds: int = 3,
                   id_col: str = "doc_id") -> DataFrame:
    """Integer-weight boosting over decision stumps -> one row per
    example (id, y, score, w): the classic ensemble-of-weak-learners
    quality filter (a FastText-LR sibling that captures threshold
    nonlinearities the linear model can't), in the boost-by-majority
    flavor: misclassified examples DOUBLE their integer weight each
    round (no alpha = no log/exp = no float ever enters the
    training loop - the train_quality_classifier_fixedpoint lesson taken
    to its cleanest form), and the ensemble votes unweighted
    (score = sum of +-1 stump votes).

    ``candidates`` is a fixed list of (feature_index, threshold)
    stumps; each round picks the candidate with minimal weighted
    error (tie: lowest candidate index), orientation o in {0,1}
    chosen per candidate (o=0: x <= thr predicts +1; tie -> o=0).

    Scale shape: one broadcast crossJoin per round expands each
    example by |candidates| rows, partially aggregated back to
    |candidates| error rows before the exchange; the argmin collect
    is ONE row (model-scale, the allowed collect class); the weight
    update is a pure projection. Everything engine-lockstep integer:
    the DuckDB oracle replays the rounds as chained CTEs."""
    spark = df.sparkSession
    feats = df.select(
        F.col(id_col).alias("xid"),
        F.when(F.col(label_col), F.lit(1)).otherwise(F.lit(-1))
        .cast("long").alias("y"),
        *[F.col(c).cast("long").alias(f"f{i}")
          for i, c in enumerate(feature_cols)])
    cand = spark.createDataFrame(
        [(i, int(f), int(t)) for i, (f, t) in enumerate(candidates)],
        "cid long, feat long, thr long").localCheckpoint()
    feat_val = None
    for i in range(len(feature_cols)):
        cond = (F.col("feat") == i, F.col(f"f{i}"))
        feat_val = (F.when(*cond) if feat_val is None
                    else feat_val.when(*cond))
    state = feats.withColumn("w", F.lit(1).cast("long")) \
        .withColumn("score", F.lit(0).cast("long")).localCheckpoint()
    for _ in range(int(n_rounds)):
        side = (feat_val <= F.col("thr"))
        agg = (state.crossJoin(F.broadcast(cand))
               .groupBy("cid", "feat", "thr")
               .agg(F.sum(F.when(side & (F.col("y") == -1),
                                 F.col("w")).otherwise(F.lit(0)))
                    .cast("long").alias("wl_neg"),
                    F.sum(F.when(side & (F.col("y") == 1),
                                 F.col("w")).otherwise(F.lit(0)))
                    .cast("long").alias("wl_pos"),
                    F.sum(F.when(~side & (F.col("y") == 1),
                                 F.col("w")).otherwise(F.lit(0)))
                    .cast("long").alias("wr_pos"),
                    F.sum(F.when(~side & (F.col("y") == -1),
                                 F.col("w")).otherwise(F.lit(0)))
                    .cast("long").alias("wr_neg")))
        pick = (agg.select(
            "cid", "feat", "thr",
            (F.col("wl_neg") + F.col("wr_pos")).alias("err_a"),
            (F.col("wl_pos") + F.col("wr_neg")).alias("err_b"))
            .select("cid", "feat", "thr",
                    F.when(F.col("err_a") <= F.col("err_b"), F.lit(0))
                    .otherwise(F.lit(1)).cast("long").alias("o"),
                    F.least("err_a", "err_b").alias("err"))
            .orderBy("err", "cid").limit(1).collect()[0])
        feat_i, thr, o = int(pick["feat"]), int(pick["thr"]), \
            int(pick["o"])
        pred = F.when((F.col(f"f{feat_i}") <= thr) == F.lit(o == 0),
                      F.lit(1)).otherwise(F.lit(-1)).cast("long")
        state = (state.withColumn(
            "w", F.when(pred != F.col("y"), F.col("w") * 2)
            .otherwise(F.col("w")).cast("long"))
            .withColumn("score",
                        (F.col("score") + pred).cast("long"))
            .localCheckpoint(eager=False))
    return state.select(F.col("xid").alias(id_col), "y", "score", "w")


def anova_f(df: DataFrame, group_col: str, x_col: str) -> DataFrame:
    """One-way ANOVA F-test across groups -> one row (n_rows,
    n_groups, t_total, q_total, ssb_scaled, ssw_scaled, f_ppm): the
    screening test for "does this integer feature differ across
    strata" (doc length across sources, latency across shards) that
    sits next to mann_whitney's rank-based sibling.

    Exact-moment contract: per group the BIGINT moments (n_g, t_g =
    sum x, and global q = sum x^2) are exact; the sums of squares are
    DEFINED as the integer expressions
      ssb_scaled = sum_g floor(t_g^2 * 1e6 / n_g) - floor(T^2*1e6/N)
      ssw_scaled = q*1e6 - sum_g floor(t_g^2 * 1e6 / n_g)
    where floor(a*1e6/b) is computed overflow-free as
    (a div b)*1e6 + ((a % b)*1e6) div b - so every emitted moment is
    a pure BIGINT with no float merge-order exposure. Only the final
    F ratio touches DOUBLE (four exact-scalar ops, correctly rounded
    and identical on any IEEE engine), emitted as floor(F*1e6).

    Scale shape: one partial-agg groupBy to the strata table, then a
    single-row fold over it - two shuffles of statistic-scale data,
    nothing else."""
    g = (df.groupBy(F.col(group_col).alias("g"))
         .agg(F.count("*").cast("long").alias("n_g"),
              F.sum(F.col(x_col).cast("long")).alias("t_g"),
              F.sum(F.col(x_col).cast("long")
                    * F.col(x_col).cast("long")).alias("q_g")))
    term = ("((t_g * t_g) div n_g) * 1000000"
            " + (((t_g * t_g) % n_g) * 1000000) div n_g")
    tot = g.agg(F.sum("n_g").alias("n_rows"),
                F.count("*").alias("n_groups"),
                F.sum("t_g").alias("t_total"),
                F.sum("q_g").alias("q_total"),
                F.sum(F.expr(term)).alias("between_raw"))
    return tot.selectExpr(
        "n_rows", "cast(n_groups as bigint) as n_groups",
        "t_total", "q_total",
        "between_raw - (((t_total * t_total) div n_rows) * 1000000"
        " + (((t_total * t_total) % n_rows) * 1000000) div n_rows)"
        " as ssb_scaled",
        "q_total * 1000000 - between_raw as ssw_scaled",
    ).selectExpr(
        "n_rows", "n_groups", "t_total", "q_total",
        "ssb_scaled", "ssw_scaled",
        "case when ssw_scaled = 0 or n_groups <= 1"
        " or n_rows <= n_groups then cast(null as bigint)"
        " else cast(floor((cast(ssb_scaled as double) / (n_groups - 1))"
        " / (cast(ssw_scaled as double) / (n_rows - n_groups))"
        " * 1000000.0) as bigint) end as f_ppm")


def ols2(df: DataFrame, y_col: str, x1_col: str,
         x2_col: str) -> DataFrame:
    """Closed-form two-feature least squares via the normal equations
    -> one row (n, plus the five exact centered moments, plus b0/b1/
    b2 in floor-ppm): the work-horse "regress metric on two covariates
    in one pass" primitive (doc quality on length and link count,
    latency on hour and shard, ...).

    Determinism contract: the raw moments (sums of x, x^2, xy over
    BIGINT inputs) are exact integers from ONE partial-agg pass — no
    float ever enters a distributed sum, so partial-merge order cannot
    matter (the tpch integer-cents lesson). The centered moments
    m11 = n*Sx1x1 - Sx1^2 etc. stay BIGINT; only the final Cramer
    solve is DOUBLE — six exact-scalar IEEE ops identical on any
    engine (the anova_f contract; casting moments to DOUBLE before the
    cross products is the cuped_ab overflow rule: m*v products can
    pass 2^63 while each factor is comfortably exact-or-stable).
    Singular design (det == 0) emits NULL betas rather than an ANSI
    divide error."""
    a = df.selectExpr(
        f"cast({y_col} as bigint) as y",
        f"cast({x1_col} as bigint) as x1",
        f"cast({x2_col} as bigint) as x2",
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x1 * x1")).alias("s11"),
        F.sum(F.expr("x2 * x2")).alias("s22"),
        F.sum(F.expr("x1 * x2")).alias("s12"),
        F.sum(F.expr("x1 * y")).alias("s1y"),
        F.sum(F.expr("x2 * y")).alias("s2y"))
    m = a.selectExpr(
        "n", "s1", "s2", "sy",
        "n * s11 - s1 * s1 as m11",
        "n * s22 - s2 * s2 as m22",
        "n * s12 - s1 * s2 as m12",
        "n * s1y - s1 * sy as v1",
        "n * s2y - s2 * sy as v2")
    return m.selectExpr(
        "n", "m11", "m22", "m12", "v1", "v2",
        "cast(m11 as double) * cast(m22 as double)"
        " - cast(m12 as double) * cast(m12 as double) as det",
    ).selectExpr(
        "n", "m11", "m22", "m12", "v1", "v2",
        "case when det = 0.0d then cast(null as bigint) else"
        " cast(floor((cast(m22 as double) * cast(v1 as double)"
        " - cast(m12 as double) * cast(v2 as double)) / det"
        " * 1000000.0) as bigint) end as b1_ppm",
        "case when det = 0.0d then cast(null as bigint) else"
        " cast(floor((cast(m11 as double) * cast(v2 as double)"
        " - cast(m12 as double) * cast(v1 as double)) / det"
        " * 1000000.0) as bigint) end as b2_ppm",
    ).selectExpr(
        "n", "m11", "m22", "m12", "v1", "v2", "b1_ppm", "b2_ppm")


def wilson_rank(df: DataFrame, group_col: str, success_col: str,
                z: float = 1.96) -> DataFrame:
    """Wilson-score lower-bound ranking -> (group, successes, trials,
    naive_ppm, wilson_ppm, rank): THE how-not-to-sort-by-average fix
    (Wilson 1927; Miller's classic rating essay) — a 1/1 item must
    not outrank 98/102, so groups rank by the lower confidence bound
    of their success rate, which shrinks small samples toward zero.

    One partial-aggregable groupBy produces (s, n); the bound is a
    fixed arithmetic tree over them evaluated in DOUBLE — every op
    (+ * / sqrt) is IEEE correctly-rounded, and both engines evaluate
    the IDENTICAL expression on identical integers, so
    floor(1e6 * L) is bit-exact cross-engine (no libm transcendental
    is involved, and sqrt is correctly rounded on both).
    A p=0 group leaves an ULP residue of ~-2e-17 (floor -> -1 ppm),
    clamped to 0 identically on both engines. Final rank orders on
    (wilson_ppm desc, group)."""
    agg = df.groupBy(F.col(group_col).alias("g")).agg(
        F.sum(F.col(success_col).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"))
    zz = float(z)
    expr = (f"(p + zz2 / (2 * nn) - {zz} * sqrt(p * (1 - p) / nn"
            f" + zz2 / (4 * nn * nn))) / (1 + zz2 / nn)")
    scored = (agg.withColumn("nn", F.col("n").cast("double"))
              .withColumn("p", F.col("s").cast("double") / F.col("nn"))
              .withColumn("zz2", F.lit(zz) * F.lit(zz))
              .withColumn("wilson_ppm",
                          F.expr(f"greatest(CAST(floor(1000000 *"
                                 f" ({expr})) AS BIGINT), 0L)")))
    w = Window.orderBy(F.col("wilson_ppm").desc(), "g")
    return scored.select(
        F.col("g").alias(group_col),
        F.col("s").cast("long").alias("successes"),
        F.col("n").cast("long").alias("trials"),
        F.expr("(1000000 * s) div n").cast("long").alias("naive_ppm"),
        "wilson_ppm",
        F.row_number().over(w).cast("long").alias("rank"))


def bh_fdr(pvals: DataFrame, p_col: str = "p_ppm",
           q_num: int = 1, q_den: int = 20) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control -> ONE summary row
    (m, t_ppm, n_rejected): reject every hypothesis with
    p <= p_(k*), k* = max{i : p_(i) <= i*q/m} at q = q_num/q_den —
    THE multiple-testing gate for any metric sweep (which of 10^5
    per-host drift tests are real?); the step-up threshold is what
    separates it from naive per-test alpha.

    NO global sort: p values are ppm integers on a BOUNDED domain,
    so rank(p) = cumulative count over the p-HISTOGRAM (statistic-
    scale, <= 1e6+1 rows) and the step-up condition
    p_(i)*q_den*m <= i*q_num*1e6 becomes, per DISTINCT p,
    p*q_den*m <= c_p*q_num*1e6 with c_p = count(p' <= p) — ties
    resolve all-or-none exactly as sorted BH does. One corpus
    groupBy + one statistic-scale window; exact integers end to
    end."""
    h = pvals.groupBy(F.col(p_col).alias("p")).agg(
        F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, 0)
    tot = h.agg(F.sum("c").alias("m"))
    cum = (h.withColumn("cp", F.sum("c").over(w))
           .crossJoin(F.broadcast(tot)))
    ok = cum.filter(
        F.col("p") * int(q_den) * F.col("m")
        <= F.col("cp") * int(q_num) * F.lit(1000000))
    t = ok.agg(F.max("p").alias("t_ppm"))
    return (cum.crossJoin(F.broadcast(t))
            .agg(F.max("m").cast("long").alias("m"),
                 F.max("t_ppm").cast("long").alias("t_ppm"),
                 F.sum(F.when(F.col("p") <= F.col("t_ppm"),
                              F.col("c")).otherwise(0))
                 .cast("long").alias("n_rejected")))


def shapley_r2(df: DataFrame, y_col: str, x1_col: str,
               x2_col: str) -> DataFrame:
    """Exact Shapley (LMG) R^2 decomposition for the two-feature
    regression -> one row (n, r2_full_ppm, r2_x1_ppm, r2_x2_ppm,
    phi1_ppm, phi2_ppm): which covariate CARRIES the fit?
    phi_i averages feature i's marginal R^2 over both entry orders —
    exact for two features where the general Shapley is exponential
    (the knn_shapley contract transplanted to regression), and the
    principled answer where raw per-feature R^2 double-counts shared
    variance: phi1 + phi2 == r2_full by construction.

    Same determinism contract as :func:`ols2`: raw sums are exact
    BIGINT from ONE partial-agg pass; centered moments BIGINT; the
    finale casts moments to DOUBLE (the cuped overflow rule) through
    an expression tree written IDENTICALLY on both engines —
    + * / only, so floor-ppm is engine-exact; zero-variance /
    singular designs emit NULLs, never a divide error."""
    a = df.selectExpr(
        f"cast({y_col} as bigint) as y",
        f"cast({x1_col} as bigint) as x1",
        f"cast({x2_col} as bigint) as x2",
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x1 * x1")).alias("s11"),
        F.sum(F.expr("x2 * x2")).alias("s22"),
        F.sum(F.expr("x1 * x2")).alias("s12"),
        F.sum(F.expr("x1 * y")).alias("s1y"),
        F.sum(F.expr("x2 * y")).alias("s2y"),
        F.sum(F.expr("y * y")).alias("syy2"))
    m = a.selectExpr(
        "n",
        "cast(n * s11 - s1 * s1 as double) as m11",
        "cast(n * s22 - s2 * s2 as double) as m22",
        "cast(n * s12 - s1 * s2 as double) as m12",
        "cast(n * s1y - s1 * sy as double) as v1",
        "cast(n * s2y - s2 * sy as double) as v2",
        "cast(n * syy2 - sy * sy as double) as syy")
    r = m.selectExpr(
        "n", "m11", "m22", "m12", "v1", "v2", "syy",
        "m11 * m22 - m12 * m12 as det",
        "case when m11 = 0.0d or syy = 0.0d then cast(null as double)"
        " else v1 * v1 / (m11 * syy) end as r1",
        "case when m22 = 0.0d or syy = 0.0d then cast(null as double)"
        " else v2 * v2 / (m22 * syy) end as r2",
    ).selectExpr(
        "n", "r1", "r2",
        "case when det = 0.0d or syy = 0.0d then cast(null as double)"
        " else (v1 * (m22 * v1 - m12 * v2)"
        " + v2 * (m11 * v2 - m12 * v1)) / (det * syy) end as rf")
    return r.selectExpr(
        "n",
        "cast(floor(rf * 1000000.0) as bigint) as r2_full_ppm",
        "cast(floor(r1 * 1000000.0) as bigint) as r2_x1_ppm",
        "cast(floor(r2 * 1000000.0) as bigint) as r2_x2_ppm",
        "cast(floor((r1 + (rf - r2)) / 2 * 1000000.0) as bigint)"
        " as phi1_ppm",
        "cast(floor((r2 + (rf - r1)) / 2 * 1000000.0) as bigint)"
        " as phi2_ppm")


def kruskal_wallis(df: DataFrame, group_col: str, value_col: str) \
        -> DataFrame:
    """Kruskal-Wallis rank H test -> ONE row (k_groups, n, tt, h):
    the k-sample extension of ``mann_whitney_u`` — do any of k arms
    differ in location, without normality assumptions (the rank
    analogue of ``anova_f``).

    Integer-exact core, same discipline as mann_whitney: doubled
    tie-averaged pooled ranks via rank_asc + n + 1 - rank_desc, so
    each group's doubled rank sum DR_g and the tie term
    tt = sum(t^3 - t) are exact BIGINTs. With R_g = DR_g/2,
    H = (12/(N(N+1))) * sum R_g^2/n_g - 3(N+1), tie-corrected by
    1 - tt/(N^3 - N); substituting doubled ranks turns 12/4 into 3.
    The float finale folds per-group terms DR_g^2 / n_g in g-sorted
    order (F.aggregate over a sorted array — a deterministic IEEE
    left fold, and +0.0 + x == x so the oracle's explicit
    left-associated sum is bit-identical), then one fixed + * /
    expression DAG, 6dp.

    Contract: pooled GLOBAL ranks — statistic-scale sample/stratum
    only (the mann_whitney contract)."""
    b = df.select(F.col(group_col).cast("long").alias("g"),
                  F.col(value_col).cast("long").alias("x"))
    ra = F.rank().over(Window.orderBy(F.col("x").asc()))
    rd = F.rank().over(Window.orderBy(F.col("x").desc()))
    cnt = F.count(F.lit(1)).over(Window.partitionBy())
    ranked = b.select("g", "x",
                      (ra + cnt + 1 - rd).cast("long").alias("r2"))
    ties = (b.groupBy("x").agg(F.count(F.lit(1)).alias("t"))
            .agg(F.sum(F.col("t") * F.col("t") * F.col("t")
                       - F.col("t")).cast("long").alias("tt")))
    grp = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("r2").cast("long").alias("dr"))
    agg = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("ng").cast("long").alias("n"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("g", "dr", "ng"))),
            F.lit(0.0),
            lambda acc, s: acc + (s["dr"].cast("double") * s["dr"]
                                  / s["ng"])).alias("s"))
    j = agg.crossJoin(F.broadcast(ties))
    h = F.expr(
        "CASE WHEN n > 1 AND CAST(n AS DOUBLE) * n * n - n > tt "
        "THEN (3.0 * s / (CAST(n AS DOUBLE) * (n + 1)) "
        "- 3.0 * (n + 1)) "
        "/ (1.0 - CAST(tt AS DOUBLE) "
        "/ (CAST(n AS DOUBLE) * n * n - n)) ELSE 0.0 END")
    return j.select("k_groups", "n", "tt", F.round(h, 6).alias("h"))


def ransac_line(points: DataFrame, id_col: str = "pid",
                n_cand: int = 16, tol: int = 4) -> DataFrame:
    """Deterministic RANSAC line fit -> ONE row (best_j, n_points,
    n_inliers, slope_cand_ppm, slope_refit_ppm): robust regression
    that an outlier-poisoned OLS (ols2 / theil_sen's complement)
    cannot match — sample candidate models, score by inlier count,
    refit on the consensus set. "Random" is md5-derived (the
    link_walks / isolation-forest discipline): candidate j's two
    points are the corpus argmins of md5(j:a:id) / md5(j:b:id), so
    every engine draws the same pairs.

    Integer-exact inlier test — no slope division ever touches the
    hot path: |(yb-ya)(x-xa) - (xb-xa)(y-ya)| <= tol * |xb-xa|
    (the cross-multiplied vertical residual). Scale shape: candidate
    selection = one map-side n_cand-fold fanout + partial-agg argmin
    (min(struct(md5, id, x, y))); scoring = broadcast candidates,
    one more fanout + count; refit = exact BIGINT moments over the
    winner's inliers (the ols2 contract), slopes emitted as
    floor(double * 1e6) ppm — a fixed IEEE tree, identical both
    engines. Degenerate candidates (same point twice, vertical
    pair) are filtered before scoring."""
    p = points.select(F.col(id_col).cast("long").alias("pid"),
                      F.col("x").cast("long").alias("x"),
                      F.col("y").cast("long").alias("y"))
    nc = int(n_cand)
    fan = p.select(
        "pid", "x", "y",
        F.explode(F.expr(f"sequence(0, {nc - 1})")).alias("j"))
    cands = (fan.groupBy("j").agg(
        F.min(F.struct(
            F.md5(F.concat_ws(":", F.col("j"), F.lit("a"),
                              F.col("pid"))).alias("h"),
            F.col("pid").alias("pid"), F.col("x").alias("x"),
            F.col("y").alias("y"))).alias("pa"),
        F.min(F.struct(
            F.md5(F.concat_ws(":", F.col("j"), F.lit("b"),
                              F.col("pid"))).alias("h"),
            F.col("pid").alias("pid"), F.col("x").alias("x"),
            F.col("y").alias("y"))).alias("pb"))
        .select("j", F.col("pa.x").alias("xa"), F.col("pa.y").alias("ya"),
                F.col("pb.x").alias("xb"), F.col("pb.y").alias("yb"))
        .filter("xa != xb"))
    scored = (p.crossJoin(F.broadcast(cands))
              .withColumn("resid", F.expr(
                  "abs((yb - ya) * (x - xa) - (xb - xa) * (y - ya))"))
              .withColumn("is_in", F.expr(
                  f"resid <= {int(tol)} * abs(xb - xa)")))
    tall = (scored.groupBy("j", "xa", "ya", "xb", "yb")
            .agg(F.sum(F.when(F.col("is_in"), 1).otherwise(0))
                 .cast("long").alias("n_inliers"),
                 F.count(F.lit(1)).cast("long").alias("n_points")))
    best = (tall.orderBy(F.col("n_inliers").desc(), F.col("j"))
            .limit(1))
    refit = (scored.join(F.broadcast(best.select("j")), "j")
             .filter("is_in")
             .agg(F.count(F.lit(1)).cast("long").alias("rn"),
                  F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.expr("x * x")).alias("sxx"),
                  F.sum(F.expr("x * y")).alias("sxy")))
    return (best.crossJoin(F.broadcast(refit))
            .selectExpr(
                "j as best_j", "n_points", "n_inliers",
                "cast(floor(cast(yb - ya as double) / (xb - xa)"
                " * 1000000.0) as bigint) as slope_cand_ppm",
                "case when rn * sxx - sx * sx = 0 then"
                " cast(null as bigint) else"
                " cast(floor(cast(rn * sxy - sx * sy as double)"
                " / cast(rn * sxx - sx * sx as double)"
                " * 1000000.0) as bigint) end as slope_refit_ppm"))


def pass_at_k(df: DataFrame, group_col: str, success_col: str,
              k: int = 10) -> DataFrame:
    """pass@k estimator -> (group, n, c, pass1_ppm, passk_ppm): the
    standard code-eval metric (Chen et al. 2021, HumanEval) — the
    probability that at least one of k samples drawn without
    replacement from a problem's n attempts (c successes) passes:
    1 - C(n-c,k)/C(n,k). Evaluated in the PRODUCT form as a
    fixed-point ladder, r <- r * (n-c-i) div (n-i) for i = 0..k-1
    starting from 1e6, so no binomial ever materializes (C(2000,10)
    would blow past BIGINT; each ladder step stays under ~2e9) and
    the per-step truncation is the deterministic contract on both
    engines. When n-c < k some factor passes through zero and the
    ladder sticks at 0 -> pass@k = 1e6 exactly, no special case.

    One partial-aggregable groupBy (n, c per problem); the ladder is
    k scalar expression steps over the group table (statistic
    scale)."""
    kk = int(k)
    g = (df.select(F.col(group_col).alias("g"),
                   F.col(success_col).cast("long").alias("s"))
         .groupBy("g")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("s").cast("long").alias("c")))
    expr = "1000000"
    for i in range(kk):
        expr = f"(({expr}) * greatest(n - c - {i}, 0)) div (n - {i})"
    return g.select(
        "g", "n", "c",
        F.expr("(1000000 * c) div n").alias("pass1_ppm"),
        F.expr(f"CASE WHEN n >= {kk} THEN 1000000 - ({expr}) "
               "ELSE (1000000 * least(c, 1)) END")
        .cast("long").alias(f"pass{kk}_ppm"))


def emd_drift(df: DataFrame, group_col: str, value_col: str,
              bucket_width: int = 8) -> DataFrame:
    """1-D earth mover's (Wasserstein-1) distance between each
    group's value distribution and the pooled rest -> (g, n_g,
    n_rest, emd_ppm): the drift metric that SEES HOW FAR mass
    moved, which ks_two_sample (sup gap) and psi_buckets (bin log-ratios)
    do not — in 1-D it is exactly the area between normalized CDFs. CDFs are
    step functions constant between OCCUPIED buckets, so each
    occupied bucket's |cdf gap| is weighted by the distance to the
    next occupied bucket (lead(b) - b) — skipping that weight
    undercounts any distribution with support gaps (caught by the
    planted-shift unit test).

    Integer-pure via cross-multiplied CDFs: with cum_g and cum_r the
    cumulative bucket counts, |cdf_g - cdf_r| = |cum_g * n_r -
    cum_r * n_g| / (n_g * n_r); the op sums the exact BIGINT
    numerators and divides ONCE at the end (ppm x bucket_width —
    the x1e6 scale keeps num * 1e6 * w inside BIGINT for corpus
    sizes up to ~1e5 per the docstring budget; rescale first
    beyond). Windows run over the bucket table per group —
    statistic scale, partitioned by group."""
    w = int(bucket_width)
    b = df.select(F.col(group_col).alias("g"),
                  F.expr(f"CAST({value_col} AS BIGINT) div {w}")
                  .alias("b"))
    per = b.groupBy("g", "b").agg(F.count(F.lit(1)).cast("long")
                                  .alias("c"))
    tot = b.groupBy("b").agg(F.count(F.lit(1)).cast("long")
                             .alias("ct"))
    n_tot = b.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    grid = (tot.crossJoin(F.broadcast(
                per.select("g").distinct()))
            .join(per, ["g", "b"], "left")
            .select("g", "b", "ct",
                    F.coalesce(F.col("c"), F.lit(0)).alias("c")))
    wc = Window.partitionBy("g").orderBy("b")
    cum = (grid.withColumn("cg", F.sum("c").over(wc).cast("long"))
           .withColumn("call", F.sum("ct").over(wc).cast("long"))
           .crossJoin(F.broadcast(n_tot)))
    ng = Window.partitionBy("g")
    cum = cum.withColumn("n_g", F.sum("c").over(ng).cast("long")) \
             .withColumn("cr", F.col("call") - F.col("cg")) \
             .withColumn("n_r", (F.col("nt") - F.col("n_g"))
                         .cast("long"))
    cum = cum.withColumn(
        "gapw", F.coalesce(F.lead("b").over(wc) - F.col("b"),
                           F.lit(0)).cast("long"))
    agg = (cum.groupBy("g", "n_g", "n_r")
           .agg(F.sum(F.expr("abs(cg * n_r - cr * n_g) * gapw"))
                .cast("long").alias("num")))
    return agg.select(
        "g", "n_g", "n_r",
        F.expr(f"CASE WHEN n_g > 0 AND n_r > 0 THEN "
               f"(num * 1000000 * {w}) div (n_g * n_r) "
               "ELSE 0 END").alias("emd_ppm"))


def quantile_treatment_effect(df: DataFrame, arm_col: str,
                              value_col: str,
                              taus: tuple = (25, 50, 75)) -> DataFrame:
    """Quantile treatment effects -> (tau, n_t, n_c, q_t, q_c, qte):
    the distributional A/B readout mean-based estimators (cuped_ab,
    ipw_ate, did_estimate) can't give — does the treatment move the
    median? the tails? Exact nearest-rank quantiles (k =
    (tau*n + 99) div 100, the ceil) per arm via value-histogram
    cumsums — the same statistic-scale window discipline as
    length_percentiles, never a global row sort — then one
    per-tau difference. Integer-pure throughout."""
    b = df.select(
        F.when(F.col(arm_col).cast("boolean"), 1).otherwise(0)
        .alias("arm"), F.col(value_col).cast("long").alias("v"))
    hist = b.groupBy("arm", "v").agg(F.count(F.lit(1)).cast("long")
                                     .alias("c"))
    wc = Window.partitionBy("arm").orderBy("v")
    cum = hist.withColumn("cum", F.sum("c").over(wc).cast("long"))
    ns = b.groupBy("arm").agg(F.count(F.lit(1)).cast("long")
                              .alias("n"))
    tl = F.array(*[F.lit(int(t)) for t in taus])
    fan = (cum.join(F.broadcast(ns), "arm")
           .select("arm", "v", "cum", "n",
                   F.explode(tl).alias("tau"))
           .withColumn("k", F.expr("(tau * n + 99) div 100"))
           .filter(F.col("cum") >= F.col("k")))
    q = fan.groupBy("arm", "tau", "n").agg(F.min("v").alias("q"))
    t = q.filter("arm = 1").select(
        "tau", F.col("n").alias("n_t"), F.col("q").alias("q_t"))
    c = q.filter("arm = 0").select(
        "tau", F.col("n").alias("n_c"), F.col("q").alias("q_c"))
    return (t.join(c, "tau")
            .select(F.col("tau").cast("long").alias("tau"),
                    "n_t", "n_c", "q_t", "q_c",
                    (F.col("q_t") - F.col("q_c")).alias("qte")))
