"""Table-maintenance / pipeline-hygiene operators: the jobs a 100-TB
lakehouse runs BETWEEN the analytics - small-file compaction planning,
key-skew profiling (the input to salting decisions), and k-anonymity
suppression for derived releases.

All three are single-shuffle window/aggregate shapes with exact SQL
twins, so they ride the same cross-engine hash gate as everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compaction_plan(files: DataFrame, target_bytes: int = 128 * 1024 * 1024,
                    part_col: str = "partition", path_col: str = "path",
                    size_col: str = "size_bytes") -> DataFrame:
    """(partition, path, size_bytes, bin, bin_offset): assign each data
    file to a merge bin of ~``target_bytes`` within its partition -
    the planning half of an OPTIMIZE/rewrite-data-files job (Iceberg's
    binpack strategy plans exactly this shape).

    Bin = cumulative-size-before ``div`` target, over files in path
    order: deterministic, append-stable (new files never move old
    files' bins - same growth property as ops/packing.py layouts), and
    one hash-partitioned window per PARTITION, never a global sort -
    compaction planning parallelizes by partition at any table size.
    A file larger than ``target_bytes`` owns its bin tail (cumsum
    jumps past the boundary), matching binpack's pass-through of
    already-large files."""
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    w = Window.partitionBy(part_col).orderBy(path_col)
    cum_before = (F.sum(size_col).over(w) - F.col(size_col)).cast("long")
    return (files
            .select(F.col(part_col).alias("partition"),
                    F.col(path_col).alias("path"),
                    F.col(size_col).cast("long").alias("size_bytes"))
            .withColumn("bin_offset", cum_before)
            .withColumn("bin",
                        F.expr(f"bin_offset div {int(target_bytes)}")))


def skew_profile(df: DataFrame, key_col: str, n_partitions: int = 200,
                 top_k: int = 20) -> DataFrame:
    """(key, n, share, salt_factor): the ``top_k`` heaviest keys with
    their row share and the salt fan-out a shuffle on this key needs -
    ceil(share * n_partitions), i.e. how many partitions' worth of rows
    the key carries (1 = no salting needed). The measurement that turns
    'AQE will handle skew' into a number, and the direct input to the
    salted-repartition path (spark/stages.py giant-page handling).

    One partial-agged groupBy + a broadcast single-row total + a top-k
    window over KEY CARDINALITY (not rows). Deterministic ordering:
    (n desc, key asc)."""
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")) \
        .agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    w = Window.orderBy(F.col("n").desc(), F.col("key"))
    return (counts.crossJoin(F.broadcast(total))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select("key", "n",
                    F.round(F.col("n") / F.col("total"), 6).alias("share"),
                    F.ceil(F.col("n") * n_partitions / F.col("total"))
                    .cast("long").alias("salt_factor"))
            .orderBy(F.col("n").desc(), F.col("key")))


def kanon_suppress(df: DataFrame, quasi_cols: list, k: int = 5) -> DataFrame:
    """k-anonymity suppression gate: rows whose quasi-identifier
    combination occurs fewer than ``k`` times are marked suppressed
    (the release-hygiene step before publishing derived per-group
    statistics - small groups re-identify individuals).

    -> input columns + (group_n, is_suppressed). One window count over
    the quasi-identifier key - the same single-Exchange shape as
    dedup_keep; no second pass, no driver-side group list."""
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    w = Window.partitionBy(*quasi_cols)
    return (df.withColumn("group_n",
                          F.count(F.lit(1)).over(w).cast("long"))
            .withColumn("is_suppressed", F.col("group_n") < k))


def ldiversity_suppress(df: DataFrame, quasi_cols: list,
                        sensitive_col: str, l: int = 2) -> DataFrame:
    """l-diversity gate, the companion to :func:`kanon_suppress`:
    a quasi-identifier group that is large enough for k-anonymity can
    still leak if every member shares the same SENSITIVE value (the
    homogeneity attack) - mark groups carrying fewer than ``l``
    distinct sensitive values.

    -> input columns + (group_n, sensitive_n, is_suppressed). Same
    single-Exchange window shape as kanon_suppress; the distinct count
    rides ``collect_set`` over the group window, which is bounded by
    the sensitive attribute's per-group cardinality (small by nature
    for the attributes this gate protects), never by group size."""
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    if l < 1:
        raise ValueError("l must be >= 1")
    w = Window.partitionBy(*quasi_cols)
    return (df.withColumn("group_n",
                          F.count(F.lit(1)).over(w).cast("long"))
            .withColumn("sensitive_n",
                        F.size(F.collect_set(sensitive_col).over(w))
                        .cast("long"))
            .withColumn("is_suppressed", F.col("sensitive_n") < l))


# ------------------------------------------------------- incremental view
# Incremental view maintenance (insert-only): refresh a materialized
# rollup from a delta batch WITHOUT rescanning the base table. The
# algebra is the classic self-maintainable-aggregate set: count and sum
# merge by addition, min/max by min/max - all correct under INSERTS
# (deletes would need the full group re-scan for min/max; this operator
# deliberately models the append-only lakehouse ingest path, where the
# delta is a day's partition). At 100 TB the refresh cost is
# O(|delta| + |rollup key cardinality|): the snapshot side is an
# already-aggregated table, the base data is never touched.


def rollup_build(df: DataFrame, keys: list, measure_col: str) -> DataFrame:
    """Materialize the rollup shape (*keys, n, sum_m, min_m, max_m)
    over a LONG measure column (callers convert money to integer cents
    first - integer sums are partial-agg-merge-order-proof, float sums
    are not). One map-side-combinable groupBy."""
    m = F.col(measure_col).cast("long")
    return (df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(m).alias("sum_m"),
                 F.min(m).alias("min_m"),
                 F.max(m).alias("max_m")))


def ivm_refresh(snapshot: DataFrame, delta_rollup: DataFrame) -> DataFrame:
    """Merge a rollup snapshot with a delta batch's rollup (both in
    :func:`rollup_build` shape, same key columns): union + one
    re-aggregation, where n/sum add and min/max fold. The output is
    bit-identical to rebuilding the rollup over base UNION delta -
    that equivalence IS the driver query's oracle gate. Group count
    bounds the shuffle, not row count; new keys appear, existing keys
    update, untouched keys pass through."""
    keys = [c for c in snapshot.columns
            if c not in ("n", "sum_m", "min_m", "max_m")]
    return (snapshot.unionByName(delta_rollup)
            .groupBy(*keys)
            .agg(F.sum("n").alias("n"),
                 F.sum("sum_m").alias("sum_m"),
                 F.min("min_m").alias("min_m"),
                 F.max("max_m").alias("max_m")))


def gini_concentration(df: DataFrame, key_col: str) -> DataFrame:
    """ONE row (n_groups, total, gini): Gini coefficient of how rows
    concentrate over keys (docs over hosts, events over users, bytes
    over partitions) - the scalar skew_profile: 0 = perfectly even,
    ->1 = one key owns everything. Feed it per-source document counts
    to watch corpus concentration drift between crawls.

    Rank formula over ASC-sorted group sizes: gini = (2*sum(i*x_i) -
    (n+1)*sum(x)) / (n*sum(x)) - exact integer numerator and
    denominator, one division, 6dp. The only window runs over KEY
    cardinality (the groupBy output), never rows; ties in x are
    rank-order-invariant for the sum (permuting equal x's leaves
    sum(i*x_i) unchanged), with the key tie-break pinned anyway."""
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")) \
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.orderBy(F.col("x"), F.col("key"))
    ranked = counts.withColumn("i", F.row_number().over(w).cast("long"))
    return (ranked.agg(F.count(F.lit(1)).cast("long").alias("n_groups"),
                       F.sum("x").cast("long").alias("total"),
                       F.sum(F.col("i") * F.col("x")).cast("long")
                       .alias("t"))
            .select("n_groups", "total",
                    F.round(F.when(
                        (F.col("n_groups") > 0) & (F.col("total") > 0),
                        (F.lit(2) * F.col("t")
                         - (F.col("n_groups") + 1) * F.col("total"))
                        .cast("double")
                        / (F.col("n_groups") * F.col("total"))
                        .cast("double")).otherwise(F.lit(0.0)), 6)
                    .alias("gini")))


def tcloseness_groups(df: DataFrame, quasi_cols: list, sensitive_col,
                      t_ppm: int = 200_000) -> DataFrame:
    """t-closeness gate (Li, Li & Venkatasubramanian 2007), completing
    the k-anonymity / l-diversity release triad: a group can be large
    (k) and varied (l) yet still leak if its sensitive DISTRIBUTION
    diverges from the table's - e.g. one zip code whose salary mix
    skews far above the global mix. Emits ONE row per quasi-identifier
    group: (*quasi_cols, group_n, m, emd_num, t_ppm, is_suppressed).

    Distance is the ordinal Earth-Mover's Distance over the GLOBAL
    sensitive-value ladder (m distinct values, ascending), in exact
    integer form: with group counts c_i (n_g total) and global counts
    C_i (N total),

        emd_num = sum over the first m-1 ladder rungs of
                  | cum_c(i) * N  -  cum_C(i) * n_g |

    and EMD = emd_num / ((m-1) * n_g * N), so t_ppm = 1e6 * emd_num
    div ((m-1)*n_g*N) is engine-exact. ``sensitive_col`` must be
    ordinal (ints, bucketed magnitudes); m = 1 degenerates to t_ppm 0.

    Scale shape: global ladder = one groupBy at sensitive cardinality
    (broadcast); each group's prefix sums run over the group x ladder
    spine (groups * m rows - m is small by the same argument as
    l-diversity's collect_set), one window partitioned by group, one
    partial-agged groupBy back to group grain. Never a row-level
    window over the corpus."""
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    d = df.select(*[F.col(c) for c in quasi_cols],
                  F.col(sensitive_col).cast("long").alias("sv"))
    glob = d.groupBy("sv").agg(F.count(F.lit(1)).cast("long").alias("gc"))
    ladder = glob.select(
        "sv", "gc",
        F.sum("gc").over(Window.orderBy("sv")
                         .rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").alias("cum_gc"),
        F.sum("gc").over(Window.rowsBetween(Window.unboundedPreceding,
                                            Window.unboundedFollowing))
        .cast("long").alias("n_all"),
        F.count(F.lit(1)).over(Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long").alias("m"),
        F.row_number().over(Window.orderBy("sv")).alias("rung"))
    cells = d.groupBy(*quasi_cols, "sv").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    groups = d.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("group_n"))
    spine = groups.crossJoin(F.broadcast(ladder))
    filled = (spine.join(cells, [*quasi_cols, "sv"], "left")
              .withColumn("c", F.coalesce("c", F.lit(0)).cast("long")))
    wg = Window.partitionBy(*quasi_cols).orderBy("sv") \
        .rowsBetween(Window.unboundedPreceding, 0)
    pref = filled.withColumn("cum_c",
                             F.sum("c").over(wg).cast("long"))
    terms = pref.withColumn(
        "term",
        F.when(F.col("rung") < F.col("m"),
               F.abs(F.col("cum_c") * F.col("n_all")
                     - F.col("cum_gc") * F.col("group_n")))
        .otherwise(F.lit(0)))
    agg = terms.groupBy(*quasi_cols).agg(
        F.max("group_n").cast("long").alias("group_n"),
        F.max("m").cast("long").alias("m"),
        F.max("n_all").cast("long").alias("n_all"),
        F.sum("term").cast("long").alias("emd_num"))
    return agg.select(
        *quasi_cols, "group_n", "m", "emd_num",
        F.when(F.col("m") > 1,
               F.expr(f"(1000000 * emd_num) div "
                      f"((m - 1) * group_n * n_all)"))
        .otherwise(F.lit(0)).cast("long").alias("t_ppm")) \
        .withColumn("is_suppressed", F.col("t_ppm") > t_ppm)


def zone_map_prune(df: DataFrame, layout_col: str, file_col: str,
                   value_col: str, lo: int, hi: int) -> DataFrame:
    """Zone-map (min/max data-skipping) pruning telemetry -> one row
    per (layout, file): (layout, file_id, n_rows, min_v, max_v,
    survives) for the predicate ``lo <= v < hi``. The lakehouse
    data-skipping audit: every columnar format (parquet row groups,
    Iceberg manifests, ORC stripes) prunes files whose [min, max]
    envelope misses the predicate, so HOW MUCH a layout prunes is a
    direct function of how value-clustered its files are. Run the same
    predicate over competing layout assignments (insertion order vs
    z-order vs value-sorted — the ``ops/layout.py`` keys) and the
    survivor counts ARE the layout decision.

    survives = (min_v < hi) AND (max_v >= lo) — file-level envelope
    overlap, exactly the skip test the reader would apply; a file can
    survive while containing no matching row (envelope false
    positives), which is the point the telemetry makes visible.

    Scale shape: one partial-agged groupBy at file cardinality — this
    is the MANIFEST scan, never the data scan."""
    d = df.select(F.col(layout_col).alias("layout"),
                  F.col(file_col).cast("long").alias("file_id"),
                  F.col(value_col).cast("long").alias("v"))
    zones = d.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("v").cast("long").alias("min_v"),
        F.max("v").cast("long").alias("max_v"))
    return zones.select(
        "layout", "file_id", "n_rows", "min_v", "max_v",
        ((F.col("min_v") < F.lit(int(hi)))
         & (F.col("max_v") >= F.lit(int(lo)))).alias("survives"))


def kanon_generalize(df: DataFrame, level_exprs: list,
                     k: int = 5) -> DataFrame:
    """Full-domain k-anonymity GENERALIZATION (Samarati/Sweeney): walk
    a coarsening ladder of quasi-identifier expressions (level 0 =
    exact value ... last = coarsest) and release group counts at the
    MINIMAL level where EVERY group reaches size >= ``k`` -> (qi, n,
    level). The constructive half of the privacy family next to
    kanon_suppress (which drops small groups at a fixed granularity,
    costing rows; generalization keeps every row, costing precision).
    Falls back to the coarsest level when none satisfies.

    ``level_exprs`` are Spark SQL expression strings (integer
    arithmetic only - the cross-engine `div` discipline); the DuckDB
    oracle mirrors each level in its own dialect.

    Scale shape: one partial-agged groupBy per level over the raw
    rows (levels are few and fixed; for strictly NESTED hierarchies -
    zip -> zip//10 -> zip//100 - a single ROLLUP pass computes every
    level at once, noted here for the 100-TB path), a level-cardinality
    min aggregation, and a 1-row broadcast join to select the chosen
    level. No collect, no window over raw rows."""
    per = None
    for lvl, ex in enumerate(level_exprs):
        g = (df.groupBy(F.expr(ex).cast("string").alias("qi"))
             .agg(F.count(F.lit(1)).alias("n"))
             .withColumn("level", F.lit(lvl)))
        per = g if per is None else per.unionByName(g)
    mins = per.groupBy("level").agg(F.min("n").alias("min_n"))
    chosen = (mins.filter(F.col("min_n") >= k)
              .agg(F.min("level").alias("lvl"))
              .select(F.coalesce("lvl", F.lit(len(level_exprs) - 1))
                      .alias("level")))
    return (per.join(F.broadcast(chosen), "level")
            .select("qi", F.col("n").cast("long").alias("n"),
                    F.col("level").cast("long").alias("level")))


def dp_noisy_counts(df: DataFrame, group_col: str, epsilon: float = 1.0,
                    seed_salt: str = "dp") -> DataFrame:
    """(group, n, noisy_n): per-group counts released under
    epsilon-differential privacy via the Laplace mechanism (Dwork et
    al. 2006) - count queries have sensitivity 1, so noise is
    Laplace(1/epsilon), added per released cell.

    Determinism contract (the cross-engine hash gate): the noise draw
    is PSEUDO-random from the released key itself - u =
    md5(salt||group) first 13 hex digits / 16^13, a uniform in [0,1)
    with 52 exact mantissa bits - then the standard inverse-CDF
    transform noise = -b*sign(u-0.5)*ln(1-2|u-0.5|). Both engines
    evaluate the identical closed form; noisy_n is 6dp-rounded (the
    ranked-float discipline). A production release would swap the md5
    seed for a vetted DRBG - the mechanism, sensitivity accounting and
    plan shape are unchanged.

    NOTE key-derived noise means repeated releases reuse the same
    draw (no privacy-budget refresh across releases) - that is the
    standard 'sticky noise' trick (RAPPOR's permanent randomized
    response) and is what makes the op idempotent/retryable at scale.

    Scale shape: one partial-agged groupBy; noise is a per-OUTPUT-row
    codegen expression (group cardinality, not row count). No UDF, no
    collect."""
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    b = 1.0 / float(epsilon)
    g = df.groupBy(F.col(group_col).cast("string").alias("grp")) \
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    v = F.greatest(
        F.expr(f"conv(substring(md5(concat('{seed_salt}', grp)), 1, 13),"
               " 16, 10)").cast("double") / F.lit(float(16 ** 13)),
        F.lit(5e-16))
    u = v - F.lit(0.5)
    noise = (F.lit(-b) * F.signum(u)
             * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u)))
    return g.select(F.col("grp").alias("group"), "n",
                    F.round(F.col("n") + noise, 6).alias("noisy_n"))


def expectation_counts(df: DataFrame, checks: dict) -> DataFrame:
    """Great-Expectations-style single-pass data-quality audit:
    ``checks`` maps constraint name -> Spark SQL BOOLEAN expression
    string that is TRUE when the row VIOLATES the constraint. Returns
    (check_name, checked, violations, violation_ppm), one row per
    check. (``constraint`` is a reserved word in DuckDB - the column
    is named check_name so the SQL twin needs no quoting.)

    Scale shape - the whole suite is ONE scan: every check compiles to
    a conditional sum inside a single partial aggregation (no
    per-check pass, no shuffle beyond the 1-row agg), then a stack()
    unpivot over the single result row. NULL expression results count
    as violations (an unevaluable constraint is a failing one).
    Cross-table checks (FK orphans) don't fit a one-scan suite - see
    fk_orphans."""
    if not checks:
        raise ValueError("checks must be non-empty")
    aggs = [F.sum(F.when(F.expr(ex).isNull() | F.expr(ex), 1)
                  .otherwise(0)).cast("long").alias(f"v_{i}")
            for i, (_, ex) in enumerate(sorted(checks.items()))]
    row = df.agg(F.count(F.lit(1)).cast("long").alias("checked"), *aggs)
    pairs = ", ".join(f"'{name}', v_{i}"
                      for i, name in enumerate(sorted(checks)))
    return (row.select(
        "checked",
        F.expr(f"stack({len(checks)}, {pairs}) AS (check_name, violations)"))
        .select("check_name", "checked", "violations",
                F.expr("(1000000 * violations) div checked")
                .alias("violation_ppm")))


def fk_orphans(child: DataFrame, child_key: str, parent: DataFrame,
               parent_key: str, name: str) -> DataFrame:
    """One referential-integrity check -> (check_name, checked,
    violations, violation_ppm): child rows whose key has no parent.
    LEFT ANTI join on the key (null child keys are orphans by
    convention: anti-join keeps them since a null never matches) +
    1-row counts; union rows from several checks into one audit
    report. The anti join is a keyed shuffle (or broadcast when the
    parent is a dimension) - never a nested loop."""
    total = child.agg(F.count(F.lit(1)).cast("long").alias("checked"))
    orphans = (child.select(F.col(child_key).alias("k"))
               .join(parent.select(F.col(parent_key).alias("k")), "k",
                     "left_anti")
               .agg(F.count(F.lit(1)).cast("long").alias("violations")))
    return (total.crossJoin(orphans)
            .select(F.lit(name).alias("check_name"), "checked",
                    "violations",
                    F.expr("(1000000 * violations) div checked")
                    .alias("violation_ppm")))


def sampled_join_estimate(left: DataFrame, left_key: str, right: DataFrame,
                          right_key: str, rate_denom: int = 8) -> DataFrame:
    """Correlated-sampling join-size estimation (the join-synopsis
    estimator of Vengerov et al. 2015 / end-biased sampling): both
    sides keep exactly the keys with md5(key) % rate_denom == 0 - the
    SAME hash on both sides, so a sampled key survives on both or
    neither - then est = |sample_left >< sample_right| * rate_denom.
    Coordinated key sampling is unbiased for equi-join size, unlike
    independent row sampling (which misses matches at rate 1/r^2).

    Output: 1 row (sampled_pairs, est_pairs, true_pairs, err_ppm).
    The TRUE join size is computed here for the audit/verification
    query; the 100-TB deployment runs only the sampled side (that is
    the point - the estimate costs 1/r of the join) and err_ppm is
    reported as NULL-free only because the toy gate can afford the
    exact pass. All-integer arithmetic end to end."""
    if rate_denom < 1:
        raise ValueError("rate_denom must be >= 1")
    gate = ("cast(conv(substring(md5(cast(k as string)), 1, 13), 16, 10)"
            f" as bigint) % {int(rate_denom)} = 0")
    lk = left.select(F.col(left_key).alias("k"))
    rk = right.select(F.col(right_key).alias("k"))
    ls = lk.filter(F.expr(gate))
    rs = rk.filter(F.expr(gate))
    sampled = ls.join(rs, "k").agg(
        F.count(F.lit(1)).cast("long").alias("sampled_pairs"))
    true = lk.join(rk, "k").agg(
        F.count(F.lit(1)).cast("long").alias("true_pairs"))
    return (sampled.crossJoin(true)
            .select("sampled_pairs",
                    (F.col("sampled_pairs") * rate_denom).cast("long")
                    .alias("est_pairs"),
                    "true_pairs",
                    F.expr("(1000000 * abs(sampled_pairs * "
                           f"{int(rate_denom)} - true_pairs))"
                           " div true_pairs").alias("err_ppm")))


def split_leakage(docs, weights: dict, id_col: str = "doc_id",
                  text_col: str = "text", salt: str = "split1"):
    """Train/test contamination audit - the QA gate a training-data
    release runs AFTER splitting: how many exact-duplicate pairs
    straddle split boundaries (a duplicate of a training doc inside
    the test split silently inflates eval). Composes the exact-dedup
    fingerprint (ops/textstats.py::fingerprint) with assign_split's
    md5 fate ranges -> one row per unordered split pair
    (split_a <= split_b): (split_a, split_b, n_pairs, is_leak).

    NO pair materialization anywhere: per fingerprint the split
    histogram collapses to k conditional counts, and pair counts
    follow in closed form - C(n_s, 2) within a split, n_s * n_t
    across (is_leak = true) - so a fingerprint with a million copies
    costs one row, not 5e11 pairs. Two partial-agg shuffles total
    (fingerprint groupBy, then the k*(k+1)/2-row final agg); the
    all-zero rows are kept so the audit's schema is stable for
    dashboards."""
    from pyspark.sql import functions as F

    from .textstats import assign_split, fingerprint
    names = sorted(weights)
    assigned = assign_split(fingerprint(docs, text_col), weights,
                            id_col=id_col, salt=salt) \
        .select("fingerprint", F.coalesce("split", F.lit("heldout"))
                .alias("split"))
    if sum(int(round(w * 10000)) for w in weights.values()) < 10000:
        names = sorted(names + ["heldout"])
    per = assigned.groupBy("fingerprint").agg(
        *[F.sum((F.col("split") == n).cast("long")).alias(f"n_{i}")
          for i, n in enumerate(names)])
    combos = []
    for i, a in enumerate(names):
        for j, b in enumerate(names[i:], start=i):
            cnt = F.expr(f"(n_{i} * (n_{i} - 1)) div 2") if i == j \
                else F.col(f"n_{i}") * F.col(f"n_{j}")
            combos.append(F.struct(
                F.lit(a).alias("split_a"), F.lit(b).alias("split_b"),
                cnt.alias("p"), F.lit(i != j).alias("is_leak")))
    return (per.select(F.explode(F.array(*combos)).alias("c"))
            .groupBy(F.col("c.split_a").alias("split_a"),
                     F.col("c.split_b").alias("split_b"),
                     F.col("c.is_leak").alias("is_leak"))
            .agg(F.sum("c.p").alias("n_pairs"))
            .select("split_a", "split_b", "n_pairs", "is_leak"))


def fd_violations(df: DataFrame, fds: list) -> DataFrame:
    """Functional-dependency audit -> one row per candidate FD:
    (fd, n_rows, n_keys, n_violating_keys, g3_rows). ``fds`` is a
    list of (name, lhs_col, rhs_col): does lhs determine rhs?
    The schema-inference / data-contract check run before declaring a
    column derivable (and the dedup-safety check before collapsing on
    a key): g3 (Kivinen & Mannila) = the minimum rows to delete for
    the FD to hold exactly = n - sum over keys of the majority-value
    count.

    All exact integers: per FD one (lhs, rhs) partial agg, a
    statistic-scale per-lhs max/sum, one output row. Candidates run as
    a union of independent aggregations - no unpivot of the corpus,
    each FD reads only its two columns (column pruning reaches the
    scan)."""
    outs = []
    for name, lhs, rhs in fds:
        pair = (df.groupBy(F.col(lhs).alias("k"),
                           F.col(rhs).alias("v"))
                .agg(F.count(F.lit(1)).alias("c")))
        per_key = pair.groupBy("k").agg(
            F.sum("c").alias("nk"),
            F.max("c").alias("maj"),
            F.count(F.lit(1)).alias("ndv"))
        outs.append(per_key.agg(
            F.lit(name).alias("fd"),
            F.sum("nk").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum(F.when(F.col("ndv") > 1, 1).otherwise(0))
            .cast("long").alias("n_violating_keys"),
            F.sum(F.col("nk") - F.col("maj")).cast("long")
            .alias("g3_rows")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def impute_group_median(df: DataFrame, group_col: str, value_col: str,
                        id_col: str = "doc_id") -> DataFrame:
    """NULL imputation by exact per-group lower median, global-median
    fallback -> input keys + (value, imputed, was_imputed): the
    data-repair step between profiling (``table_profile`` finds the
    nulls) and modeling (which can't eat them). Median, not mean - a
    whale in the group would drag every imputed row with it (the
    weighted_median rationale applied to repair).

    Lower median = smallest v with 2*cum_count(v) >= n over NON-NULL
    values, computed per group on the (group, value)-collapsed grain
    (windows touch distinct values only, never corpus rows) - exact
    integers, engine-deterministic. Groups that are all-NULL fall back
    to the global lower median (one broadcast row)."""
    vals = (df.filter(F.col(value_col).isNotNull())
            .groupBy(group_col, F.col(value_col).alias("v"))
            .agg(F.count(F.lit(1)).alias("c")))
    wcum = (Window.partitionBy(group_col).orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = Window.partitionBy(group_col)
    med = (vals.withColumn("cum", F.sum("c").over(wcum))
           .withColumn("n", F.sum("c").over(wn))
           .filter(2 * F.col("cum") >= F.col("n"))
           .groupBy(group_col).agg(F.min("v").alias("grp_median")))
    gvals = (df.filter(F.col(value_col).isNotNull())
             .groupBy(F.col(value_col).alias("v"))
             .agg(F.count(F.lit(1)).alias("c")))
    gw = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                         Window.currentRow)
    gmed = (gvals.withColumn("cum", F.sum("c").over(gw))
            .crossJoin(F.broadcast(gvals.agg(F.sum("c").alias("n"))))
            .filter(2 * F.col("cum") >= F.col("n"))
            .agg(F.min("v").alias("global_median")))
    out = (df.join(med, group_col, "left")
           .crossJoin(F.broadcast(gmed)))
    imputed = F.coalesce(F.col(value_col), F.col("grp_median"),
                         F.col("global_median"))
    return out.select(
        id_col, group_col, F.col(value_col).alias("value"),
        imputed.cast("long").alias("imputed"),
        F.col(value_col).isNull().alias("was_imputed"))


def fd_repair(df: DataFrame, lhs_col: str, rhs_col: str,
              id_col: str = "doc_id") -> DataFrame:
    """Majority-vote repair of a near-functional dependency ->
    (id, lhs, rhs, rhs_repaired, was_repaired): once
    :func:`fd_violations` says lhs -> rhs ALMOST holds, the standard
    g3-minimal repair rewrites each key's minority values to the
    key's majority value (ties break to the LEXICOGRAPHICALLY
    smallest majority value, pinned). The ETL-hygiene step for
    denormalized columns that drifted (a source whose language tag
    flapped, a host whose registered owner changed casing).

    One (lhs, rhs) partial agg, a per-key argmax at statistic scale
    (max of the (count, reversed-value) struct - no window), one join
    back. Exactly the rows g3 counts are rewritten."""
    pair = (df.groupBy(F.col(lhs_col).alias("_fdk"),
                       F.col(rhs_col).alias("v"))
            .agg(F.count(F.lit(1)).alias("c")))
    # argmax by (count desc, value asc) as a partial-aggregable max:
    # order on (c, negated-lexicographic v) via a struct of (c, rank)
    # is not expressible without a total order on v descending - use
    # min over a struct of (-c, v) instead (min = highest count,
    # then smallest value)
    # NULL rhs sorts LAST among equal counts (prefer a real value as
    # the majority; boolean false < true on both engines) so the
    # tie-break never leans on engine struct-null ordering
    best = (pair.groupBy("_fdk")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col("v").isNull().alias("vnull"),
                                F.col("v").alias("v"))).alias("s"))
            .select("_fdk", F.col("s.v").alias("majority")))
    # eqNullSafe: rows with a NULL lhs form their own key class and
    # get repaired against it — a plain equi-join silently DROPPED
    # them from the output, breaking the one-row-per-input contract
    return (df.join(best, df[lhs_col].eqNullSafe(best["_fdk"]))
            .select(id_col, F.col(lhs_col).alias("lhs"),
                    F.col(rhs_col).alias("rhs"),
                    F.col("majority").alias("rhs_repaired"),
                    (~F.col(rhs_col).eqNullSafe(F.col("majority")))
                    .alias("was_repaired")))


def hash_ring_assign(df: DataFrame, key_col: str, n_nodes: int = 8,
                     n_vnodes: int = 16,
                     drop_node: int | None = None) -> DataFrame:
    """Consistent-hash RING assignment + minimal-movement telemetry ->
    (node, n_keys, n_moved_away): the classic Karger ring with virtual
    nodes. Each of ``n_nodes * n_vnodes``
    ring positions is md5('n<node>#<vnode>'); a key lands on the first
    ring position clockwise from md5('k<key>') (wrap = global min).
    With ``drop_node`` set, the assignment is recomputed on the ring
    MINUS that node's vnodes and n_moved_away counts keys that change
    owner — the defining ring property is that ONLY the dropped node's
    keys move, which the output makes auditable per node.

    Scale shape: the ring is a statistic-scale table (n_nodes *
    n_vnodes rows) collapsed to ONE sorted-array row and broadcast, so
    assignment is a pure map-side array probe per key — ZERO shuffles
    until the 8-group count at the end. Entries are 'md5hex:node'
    strings, so first-clockwise = array_min over a lexicographic
    filter (hex compares as the number) and everything is
    engine-exact string/integer logic."""
    spark = df.sparkSession
    pad = len(str(int(n_nodes) - 1))

    def ring_arr(excluded: int | None):
        ring = (spark.range(int(n_nodes) * int(n_vnodes))
                .select((F.col("id") % n_nodes).alias("node"),
                        (F.col("id") / n_nodes).cast("long").alias("v")))
        if excluded is not None:
            ring = ring.filter(F.col("node") != int(excluded))
        return ring.select(F.concat(
            F.md5(F.format_string("n%d#%d", "node", "v")), F.lit(":"),
            F.lpad(F.col("node").cast("string"), pad, "0")).alias("e")) \
            .agg(F.sort_array(F.collect_list("e")).alias("ring"))

    keys = df.select(F.col(key_col).cast("string").alias("k")).distinct() \
        .withColumn("kpos", F.md5(F.concat(F.lit("k"), F.col("k"))))
    both = (keys.crossJoin(F.broadcast(ring_arr(None).select(
                F.col("ring").alias("r1"))))
            .crossJoin(F.broadcast(ring_arr(drop_node).select(
                F.col("ring").alias("r2")))))

    def owner(arr):
        hit = F.array_min(F.filter(arr, lambda e: e > F.col("kpos")))
        return F.substring_index(F.coalesce(hit, F.element_at(arr, 1)),
                                 ":", -1).cast("long")

    assigned = both.select(owner(F.col("r1")).alias("node"),
                           owner(F.col("r2")).alias("node2"))
    return (assigned.groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("n_keys"),
                 F.sum(F.when(F.col("node") != F.col("node2"), 1)
                       .otherwise(0)).cast("long").alias("n_moved_away")))


def bitemporal_asof(log: DataFrame, as_of_tx, valid_at,
                    id_col: str = "id") -> DataFrame:
    """Bitemporal as-of reconstruction -> the table state as KNOWN at
    transaction time ``as_of_tx``, EFFECTIVE at validity time
    ``valid_at``: (id, valid_from, valid_to, value, tx_time). The
    two-axis time-travel query (SQL:2011 application + system time)
    that SCD2 alone cannot answer — "what did we believe last Tuesday
    about the price effective next month?" — the audit/backfill
    primitive over a lakehouse correction log where late-arriving
    fixes REWRITE history under a newer tx_time.

    Log rows are (id, valid_from, valid_to, tx_time, op, value) with
    op in ('U', 'D'). One pass: filter tx_time <= as_of_tx (what we
    knew), latest-tx-wins per (id, valid_from) version via a single
    partial-aggregable max(struct(tx_time, op, ...)) — the apply_cdc
    agg-not-window rule — then keep surviving 'U' rows whose
    [valid_from, valid_to) interval covers ``valid_at``."""
    known = log.filter(F.col("tx_time") <= F.lit(as_of_tx))
    latest = (known.groupBy(id_col, "valid_from")
              .agg(F.max(F.struct("tx_time", "op", "valid_to",
                                  "value")).alias("w")))
    return (latest
            .select(id_col, "valid_from",
                    F.col("w.valid_to").alias("valid_to"),
                    F.col("w.value").alias("value"),
                    F.col("w.tx_time").alias("tx_time"),
                    F.col("w.op").alias("op"))
            .filter((F.col("op") == "U")
                    & (F.col("valid_from") <= F.lit(valid_at))
                    & (F.col("valid_to") > F.lit(valid_at)))
            .drop("op"))


def vacuum_plan(files: DataFrame, manifests: DataFrame,
                live_snapshots: DataFrame, retain_min_day: int,
                file_col: str = "file_id") -> DataFrame:
    """Snapshot-aware vacuum planning -> (file_id, created_day,
    size_bytes, reason) for every DELETABLE file: the lakehouse
    garbage-collection decision (Iceberg expire_snapshots + orphan
    cleanup semantics) — a file may be deleted iff NO live snapshot's
    manifest references it AND it is older than the retention horizon
    (young orphans survive: they may belong to an in-flight commit).

    One left_anti join against (manifests semi-joined to live
    snapshots) plus the age filter — no windows, no collects; reason
    distinguishes 'expired' (referenced only by dead snapshots) from
    'orphan' (referenced by none) so operators can audit the two
    failure modes separately."""
    live_refs = (manifests.join(live_snapshots.select("snapshot_id")
                                .distinct(), "snapshot_id")
                 .select(file_col).distinct())
    any_refs = manifests.select(file_col).distinct()
    dead = (files.join(live_refs, file_col, "left_anti")
            .filter(F.col("created_day") < int(retain_min_day)))
    return (dead.join(any_refs.withColumn("_referenced", F.lit(1)),
                      file_col, "left")
            .select(file_col, "created_day", "size_bytes",
                    F.when(F.col("_referenced").isNotNull(), "expired")
                    .otherwise("orphan").alias("reason")))


def huffman_dictionary(docs: DataFrame, top_n: int = 64,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Huffman code lengths for a top-``top_n`` term dictionary ->
    (term, freq, code_len): the optimal-prefix-code storage bound for
    dictionary-encoded string columns, priced with frequency-shaped
    codes (sum(freq*code_len) is the entropy-coded byte floor a
    columnar writer can reach).

    The tree build is inherently sequential over the dictionary — a
    STATISTIC-SCALE object by construction (top_n via distributed
    TakeOrdered), so it merges on the driver under the broadcast-
    model contract (same as k-means centroids). Determinism: each
    step merges the two nodes smallest by (freq, min-term-in-subtree)
    — a total order, replayed list-for-list by the oracle's
    recursive CTE. Degenerate single-term dictionaries get
    code_len = 1 (a code must still distinguish end-of-stream)."""
    tf = (docs.select(F.explode(F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda t: t != "")).alias("term"))
          .groupBy("term").agg(F.count(F.lit(1)).alias("freq")))
    top = tf.orderBy(F.col("freq").desc(), "term").limit(int(top_n))
    rows = [(r.term, r.freq) for r in top.collect()]
    lens = {t: 0 for t, _ in rows}
    nodes = sorted(((f, t, [t]) for t, f in rows),
                   key=lambda x: (x[0], x[1]))
    if len(nodes) == 1:
        lens[nodes[0][1]] = 1
    while len(nodes) > 1:
        a = nodes.pop(0)
        b = nodes.pop(0)
        for t in a[2] + b[2]:
            lens[t] += 1
        merged = (a[0] + b[0], min(a[1], b[1]), a[2] + b[2])
        import bisect
        keys = [(f, mt) for f, mt, _ in nodes]
        nodes.insert(bisect.bisect_right(keys, merged[:2]), merged)
    spark = docs.sparkSession
    out = spark.createDataFrame(
        [(t, int(f), int(lens[t])) for t, f in rows],
        "term string, freq long, code_len long")
    return out


def json_schema_infer(df: DataFrame, json_col: str = "js",
                      max_depth: int = 2) -> DataFrame:
    """Semi-structured schema inference -> (path, jtype, n): the
    (dotted-path, type-class) census of a JSON column, the first step
    of any lakehouse JSON-ingestion pipeline (what Spark's own
    ``spark.read.json`` sampler and DuckDB's ``json_structure`` do,
    re-expressed as an exact full-corpus census so conflicting types
    per path are VISIBLE instead of silently coerced).

    Engine-native typed parse, no regex guessing: each document is
    parsed to ``map<string, variant>`` (Spark 4 VARIANT keeps the
    JSON type of every value, unlike ``map<string,string>`` which
    erases quoting) and ``schema_of_variant`` names each value's
    type, folded to the class set {int, float, bool, string, null,
    object}. Object values additionally recurse one level via
    ``to_json``/re-parse (``max_depth=2``), emitting ``outer.inner``
    paths. The DuckDB twin reads the same classes off
    ``json_each``/``json_type``.

    Scale: parse + explode are narrow map-side work; the census is
    one partial-aggregable groupBy on a schema-bounded key (paths x
    classes, not rows). 100-TB JSON profiling is exactly this shape."""
    def _cls(val: str) -> str:
        s = f"schema_of_variant({val})"
        return (f"CASE WHEN {s} = 'BIGINT' THEN 'int' "
                f"WHEN {s} LIKE 'DECIMAL%' OR {s} = 'DOUBLE' THEN 'float' "
                f"WHEN {s} = 'BOOLEAN' THEN 'bool' "
                f"WHEN {s} = 'STRING' THEN 'string' "
                f"WHEN {s} = 'VOID' THEN 'null' "
                f"WHEN {s} LIKE 'OBJECT%' THEN 'object' "
                f"ELSE 'other' END")

    ent = df.select(F.explode(F.expr(
        f"map_entries(from_json({json_col}, 'map<string,variant>'))"))
        .alias("e"))
    top = ent.select(
        F.col("e.key").alias("path"),
        F.expr(_cls("e.value")).alias("jtype"))
    inner = (ent.filter(F.expr(
        "schema_of_variant(e.value) LIKE 'OBJECT%'"))
        .select(F.col("e.key").alias("outer_key"),
                F.explode(F.expr(
                    "map_entries(from_json(to_json(e.value), "
                    "'map<string,variant>'))")).alias("e2"))
        .select(
            F.concat("outer_key", F.lit("."),
                     F.col("e2.key")).alias("path"),
            F.expr(_cls("e2.value")).alias("jtype")))
    return (top.unionByName(inner)
            .groupBy("path", "jtype")
            .agg(F.count(F.lit(1)).cast("long").alias("n")))


def maxdiff_histogram(df: DataFrame, value_col: str,
                      bucket_width: int = 8, k: int = 8) -> DataFrame:
    """MaxDiff(V,F) histogram -> (seg, lo_bucket, hi_bucket,
    n_buckets, n_rows): the classic optimizer-statistics histogram
    (Poosala et al., VLDB 1996) that places segment boundaries at the
    k-1 LARGEST adjacent frequency jumps — integer-exact and
    boundary-placing (an equi-depth histogram balances mass; MaxDiff
    isolates cliffs, so skewed value domains don't smear across
    segments).

    Fully integer and window-free at corpus scale: one groupBy
    collapses the corpus to coarse value buckets (div
    ``bucket_width``); adjacent diffs are a lag over the BUCKET table
    (statistic-scale window); boundary selection is TakeOrdered
    (|diff| desc, bucket asc); segment ids come from one broadcast
    boundary join (count of boundaries <= bucket), never a global
    row_number over the data."""
    w = int(bucket_width)
    b = (df.select(F.expr(f"CAST({value_col} AS BIGINT) div {w}")
                   .alias("b"))
         .groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("f")))
    lag = Window.orderBy("b")
    diffs = (b.withColumn("pf", F.lag("f").over(lag))
             .filter(F.col("pf").isNotNull())
             .select("b", F.abs(F.col("f") - F.col("pf")).alias("d")))
    bounds = (diffs.orderBy(F.col("d").desc(), F.col("b"))
              .limit(int(k) - 1).select(F.col("b").alias("bb")))
    seg = (b.crossJoin(F.broadcast(
               bounds.agg(F.sort_array(F.collect_list("bb"))
                          .alias("bs"))))
           .withColumn("seg", F.expr(
               "CAST(size(filter(bs, x -> x <= b)) AS BIGINT)")))
    return (seg.groupBy("seg")
            .agg(F.min("b").alias("lo_bucket"),
                 F.max("b").alias("hi_bucket"),
                 F.count(F.lit(1)).cast("long").alias("n_buckets"),
                 F.sum("f").cast("long").alias("n_rows")))


def merkle_roots(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n_leaves: int = 8,
                 slice_w: int = 8) -> DataFrame:
    """Per-document Merkle root -> (doc_id, merkle_root): the
    content-integrity fingerprint lakehouses verify snapshots with —
    a balanced md5 hash tree over fixed-width text slices, so any
    single-slice corruption flips the root while equal prefixes
    share subtree hashes (the property a flat md5(text) lacks:
    Merkle proofs localize WHICH chunk diverged, the
    snapshot_diff/cdc_chunking companion). ``n_leaves`` must be a
    power of two; slices beyond the text hash the empty string on
    both engines. Pure codegen expression — zero shuffles."""
    n = int(n_leaves)
    if n & (n - 1):
        raise ValueError("n_leaves must be a power of two")
    w = int(slice_w)
    level = [f"md5(substring({text_col}, {1 + w * i}, {w}))"
             for i in range(n)]
    while len(level) > 1:
        level = [f"md5(concat({level[i]}, {level[i + 1]}))"
                 for i in range(0, len(level), 2)]
    return df.select(F.col(id_col),
                     F.expr(level[0]).alias("merkle_root"))


def csv_sniff(lines: DataFrame, line_col: str = "line",
              candidates: tuple = (",", ";", "|", "\t")) -> DataFrame:
    """CSV dialect sniffing -> one row per candidate delimiter
    (delim_id, n_lines, sum_cnt, var_num, is_best): the ingestion
    step before any schema lands — count each candidate's
    occurrences per line (length minus delimiter-stripped length,
    pure codegen), and pick the delimiter that appears AND splits
    every line into the same field count: best = lexicographic min
    of (variance numerator n*Scc - Sc^2 ascending, total count
    descending, candidate index) — what csv.Sniffer's consistency
    heuristic does, as exact integers. One map-side k-fold stack +
    one k-row groupBy; the argmin runs over the k-row frame."""
    exprs = []
    for i, d in enumerate(candidates):
        esc = d.replace("\\", "\\\\").replace("'", "\\'")
        if d == "\t":
            esc = "\\t"
        exprs.append(
            f"{i}L, length({line_col}) "
            f"- length(replace({line_col}, '{esc}', ''))")
    fan = lines.select(F.expr(
        f"stack({len(candidates)}, " + ", ".join(exprs)
        + ") as (delim_id, c)"))
    agg = fan.groupBy("delim_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("c").cast("long").alias("sum_cnt"),
        F.expr("count(1) * sum(c * c) - sum(c) * sum(c)")
        .cast("long").alias("var_num"))
    best = agg.agg(F.min(F.when(
        F.col("sum_cnt") > 0,
        F.struct("var_num",
                 (-F.col("sum_cnt")).alias("neg"),
                 F.col("delim_id").alias("did")))).alias("b"))
    return (agg.crossJoin(F.broadcast(best))
            .select("delim_id", "n_lines", "sum_cnt", "var_num",
                    (F.col("delim_id") == F.col("b.did"))
                    .alias("is_best")))


def learned_index_audit(df: DataFrame, key_col: str,
                        shard_col: str) -> DataFrame:
    """Learned-index error audit (Kraska et al. 2018 telemetry) ->
    (shard, n, slope_ppm, max_err): fit rank ~ a + b*key per shard
    with exact-integer OLS moments, then report the worst absolute
    position error — the number that decides whether a
    linear-model-per-shard index (RMI leaf) can replace a B-tree
    level, and the layout-quality companion to zone maps (a sorted,
    uniform shard has tiny max_err; skew or disorder blows it up).

    Moments stay exact BIGINT; slope_ppm = floor(1e6 * num/den)
    in DOUBLE (the ols2 fixed-DAG class — 1e6*num overflows BIGINT
    at corpus scale while the double quotient is engine-identical),
    intercept_ppm = (1e6*Sy - slope_ppm*Sx) div n, prediction =
    (slope_ppm*key + icept_ppm) div 1e6 — per-step trunc is the
    contract. Ranks are per-shard windows (shard-partitioned, never
    global); moments one partial-agg groupBy. UNIQUE-KEY-per-shard
    contract: rank ties under duplicate keys would make row_number
    engine-dependent."""
    b = (df.select(F.col(shard_col).alias("g"),
                   F.col(key_col).cast("long").alias("x"))
         .withColumn("r", F.row_number().over(
             Window.partitionBy("g").orderBy("x")).cast("long")))
    m = b.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"), F.sum("r").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("x * r")).alias("sxy"))
    m = m.withColumn("den", F.expr("n * sxx - sx * sx")) \
         .withColumn("slope_ppm", F.expr(
             "CASE WHEN den = 0 THEN 0 ELSE "
             "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE) "
             "* 1000000.0 / CAST(den AS DOUBLE)) AS BIGINT) END")) \
         .withColumn("icept_ppm", F.expr(
             "(1000000 * sy - slope_ppm * sx) div n"))
    err = (b.join(m.select("g", "slope_ppm", "icept_ppm"), "g")
           .select("g", F.expr(
               "abs((slope_ppm * x + icept_ppm) div 1000000 - r)")
               .alias("e"))
           .groupBy("g").agg(F.max("e").cast("long")
                             .alias("max_err")))
    return (m.join(err, "g")
            .select(F.col("g").alias("shard"), "n", "slope_ppm",
                    "max_err"))
