"""Scale-shape tests for the round-2 hardening: hot-bucket skew guards,
one-pass resumable write, and physical-plan assertions for the operators
whose earlier formulations were quadratic / shuffle-heavy
(VERDICT round 1 'What's wrong' items 1-4)."""

import pytest
from pyspark.sql import functions as F

from eventrelationextractor_spark.ops import dedup, simsearch
from eventrelationextractor_spark.spark import lineage, stages


def _physical(df) -> str:
    return df._jdf.queryExecution().toString().split("== Physical Plan ==")[-1]


# ---------------------------------------------------------------- dedup


def test_embedding_neardup_hot_bucket_capped(spark):
    """One degenerate bucket >> max_bucket_size (300 identical vectors -
    every band signature collides) must be dropped by the cap, while
    genuine small-bucket near-dup pairs are still found."""
    hot = [(i, [1.0] * 64) for i in range(300)]
    # distinct pair far from the hot direction: alternating-sign vector
    v = [(1.0 if i % 2 == 0 else -1.0) for i in range(64)]
    v2 = list(v)
    v2[0] = 0.9
    cold = [(1000, v), (1001, v2)]
    emb = spark.createDataFrame(hot + cold,
                                "vec_id long, embedding array<double>")
    pairs = dedup.embedding_neardup(emb, threshold=0.9, max_bucket_size=100)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert got == {(1000, 1001)}  # hot bucket dropped, cold pair kept
    # without the cap the hot bucket would contribute 300*299/2 pairs
    uncapped = dedup.embedding_neardup(emb, threshold=0.9,
                                       max_bucket_size=100_000)
    assert uncapped.count() == 300 * 299 // 2 + 1


def test_capped_bucket_pairs_filters_before_collect(spark):
    """The size gate must run BEFORE collect_list in the plan (a
    pathological bucket never materializes its member list): the filter
    on the count aggregate appears below the collect_list aggregate."""
    bands = spark.createDataFrame(
        [(i, 0, "hot") for i in range(50)] + [(1, 1, "ok"), (2, 1, "ok")],
        "id long, band int, bucket string")
    plan = _physical(dedup.capped_bucket_pairs(bands, max_bucket_size=10))
    assert "collect_list" in plan and "count(" in plan
    # count-aggregate (the gate) is planned before the collect aggregate:
    # in the bottom-up physical plan string the collect_list operator
    # appears ABOVE the counting aggregate it consumes.
    assert plan.index("collect_list") < plan.rindex("count(")
    got = {(r.a, r.b) for r in
           dedup.capped_bucket_pairs(bands, max_bucket_size=10).collect()}
    assert got == {(1, 2)}


def test_simhash_single_shuffle(spark):
    """SimHash is one groupBy with bit-wise conditional sums: exactly one
    Exchange, no token x bit-position row explode."""
    docs = spark.createDataFrame([(1, "alpha beta gamma"), (2, "beta gamma")],
                                 "doc_id long, text string")
    df = dedup.simhash(docs)
    plan = _physical(df)
    assert plan.count("Exchange") == 1
    # still correct: identical text -> identical signature
    same = spark.createDataFrame([(1, "alpha beta"), (2, "alpha beta")],
                                 "doc_id long, text string")
    sigs = {r.simhash for r in dedup.simhash(same).collect()}
    assert len(sigs) == 1


# ---------------------------------------------------------------- simsearch


@pytest.mark.parametrize("assign", ["literal", "arrow"])
def test_ivf_assignment_is_map_side(spark, assign):
    """Cell assignment must not shuffle IN EITHER BRANCH: the only
    Exchange in the IVF plan is the final top-k window (+AQE coalesces);
    there is no n_cells-fold corpus join and no Window before the probe
    join. 'literal' embeds centroids in codegen (small n_cells);
    'arrow' is a broadcast numpy matrix inside mapInPandas (constant
    plan size at realistic 2^12-2^16 cell counts - the literal
    expression tree would blow past codegen/plan-size limits there)."""
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(140)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = simsearch.ivf_topk(emb, n_queries=3, k=3, assign=assign)
    plan = _physical(df)
    # probe join broadcasts the tiny query side
    assert "BroadcastHashJoin" in plan
    # the pre-join side of the plan must contain no Window (the old
    # argmax-by-row_number) - the single Window operator is the final
    # ranking (WindowGroupLimit rows are Spark 4's top-k pushdown of
    # that same window, partial running before the shuffle).
    assert plan.count("Window [") == 1
    # exactly one shuffle: the final ranking window's partitionBy(qid)
    assert plan.count("Exchange hashpartitioning") == 1
    if assign == "arrow":
        assert "MapInPandas" in plan
    else:
        assert "MapInPandas" not in plan


def test_ivf_branches_agree_and_auto_picks(spark):
    """Both assignment branches produce identical output; 'auto' uses
    literal codegen at small n_cells and arrow above the threshold."""
    import random
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lit = {tuple(r) for r in
           simsearch.ivf_topk(emb, n_queries=3, k=3, n_cells=32,
                              assign="literal").collect()}
    arr = {tuple(r) for r in
           simsearch.ivf_topk(emb, n_queries=3, k=3, n_cells=32,
                              assign="arrow").collect()}
    assert lit == arr and len(lit) > 0
    auto_small = simsearch.ivf_topk(emb, n_queries=3, k=3, n_cells=32,
                                    assign="auto")
    auto_big = simsearch.ivf_topk(emb, n_queries=3, k=3, n_cells=96,
                                  assign="auto")
    assert "MapInPandas" not in _physical(auto_small)
    assert "MapInPandas" in _physical(auto_big)
    # the shipped default is the measured-faster arrow branch
    assert "MapInPandas" in _physical(
        simsearch.ivf_topk(emb, n_queries=3, k=3, n_cells=32))


# ---------------------------------------------------------------- lineage


def test_resumable_write_single_extraction_pass(spark, tmp_path):
    """One extraction job regardless of n_buckets: the injectable extract
    hook is invoked exactly once for all pending buckets (the round-1
    formulation called it once per bucket = n_buckets corpus passes)."""
    calls = []

    def counting_extract(pages, mode="both"):
        calls.append(mode)
        return stages.extract_triples(pages, mode=mode)

    out = str(tmp_path / "triples")
    pages = stages.synth_pages_df(spark, 40, partitions=4)
    r = lineage.write_triples_resumable(pages, out, n_buckets=8,
                                        mode="temporal",
                                        extract=counting_extract)
    assert sorted(r["written"]) == list(range(8))
    assert len(calls) == 1
    assert lineage.read_triples(spark, out).count() == 40 * 26

    # resume with two buckets missing from the manifest: still one pass
    man = lineage.read_manifest(out)
    import json
    import os
    del man[3], man[5]
    with open(os.path.join(out, "_lineage", "manifest.jsonl"), "w") as f:
        for rec in man.values():
            f.write(json.dumps(rec) + "\n")
    calls.clear()
    r2 = lineage.write_triples_resumable(pages, out, n_buckets=8,
                                         mode="temporal",
                                         extract=counting_extract)
    assert sorted(r2["written"]) == [3, 5] and len(calls) == 1
    assert lineage.read_triples(spark, out).count() == 40 * 26
    # fully-complete manifest -> zero extraction jobs
    calls.clear()
    r3 = lineage.write_triples_resumable(pages, out, n_buckets=8,
                                         mode="temporal",
                                         extract=counting_extract)
    assert r3["written"] == [] and calls == []


def test_resumable_write_scan_prunes_done_buckets(spark, tmp_path):
    """The resume pass filters completed buckets out of the page scan
    (crc32 pushdown-able predicate), not out of the output: pages in
    completed buckets are never handed to the extractor."""
    seen_urls = []

    def spy_extract(pages, mode="both"):
        seen_urls.extend(r.url for r in pages.select("url").collect())
        return stages.extract_triples(pages, mode=mode)

    out = str(tmp_path / "triples")
    pages = stages.synth_pages_df(spark, 30, partitions=3)
    lineage.write_triples_resumable(pages, out, n_buckets=4, mode="temporal")
    man = lineage.read_manifest(out)
    import json
    import os
    del man[1]
    with open(os.path.join(out, "_lineage", "manifest.jsonl"), "w") as f:
        for rec in man.values():
            f.write(json.dumps(rec) + "\n")
    lineage.write_triples_resumable(pages, out, n_buckets=4, mode="temporal",
                                    extract=spy_extract)
    import zlib
    assert seen_urls
    assert all(zlib.crc32(u.encode()) % 4 == 1 for u in seen_urls)


def test_simhash_neardup_finds_near_pairs_and_caps(spark):
    """Near-identical docs land within hamming<=3 and are found via the
    band scheme; unrelated docs are not paired; a mass-duplicate hot
    bucket is dropped by the cap (the exact-dedup pass owns it)."""
    from eventrelationextractor_spark.ops import dedup
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight")
    docs = [(1, base), (2, base + " extra"),
            (3, "completely different words about stock market prices "
                "rising sharply during early trading sessions today")]
    hot = [(100 + i, "identical spam page content") for i in range(150)]
    df = spark.createDataFrame(docs + hot, "doc_id long, text string")
    got = {(r.a, r.b): r.hamming
           for r in dedup.simhash_neardup(df, max_bucket_size=100).collect()}
    assert (1, 2) in got and got[(1, 2)] <= 3
    assert not any(3 in p for p in got)          # unrelated never paired
    assert not any(a >= 100 and b >= 100 for a, b in got)  # hot bucket cut


def test_resumable_write_compact_mode(spark, tmp_path):
    """compact=True repartitions on bucket before the partitioned write:
    one file per bucket directory, identical row content."""
    import glob
    import os
    out = str(tmp_path / "triples")
    pages = stages.synth_pages_df(spark, 30, partitions=4)
    lineage.write_triples_resumable(pages, out, n_buckets=4,
                                    mode="temporal", compact=True)
    n = lineage.read_triples(spark, out).count()
    assert n == 30 * 26
    for b in range(4):
        files = glob.glob(os.path.join(out, f"bucket={b}", "*.parquet"))
        assert len(files) == 1, (b, files)


def test_asof_join_single_shuffle(spark):
    """The union-trick as-of join shuffles ONCE (the key-partitioned
    running-last window); no join node, no pair blowup on hot keys."""
    from eventrelationextractor_spark.ops import events as ev_ops

    left = spark.createDataFrame([(1, "u", 10)], "id long, k string, ts long")
    right = spark.createDataFrame([("u", 5, 1.0)], "k string, ts long, v double")
    plan = _physical(ev_ops.asof_join(left, right, on="k", ts_col="ts"))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_triangle_wedge_join_is_equi_not_nested_loop(spark):
    """The degree-ordered wedge join must key-partition on u (equi join
    with the ordering inequality as a residual condition), never fall
    back to a nested-loop/cartesian product - at 10^10 edges a BNLJ is
    a non-starter."""
    from eventrelationextractor_spark.ops import graph
    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 50) for i in range(50)], "src long, dst long")
    plan = _physical(graph.triangle_counts(e))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------- session 6


def test_quantize_int8_is_pure_map_side(spark):
    """int8 quantization is per-row codegen: zero Exchange, zero Python
    eval anywhere in the plan."""
    from eventrelationextractor_spark.ops.simsearch import quantize_int8
    emb = spark.createDataFrame([(1, [1.0, -0.5])],
                                "vec_id long, embedding array<float>")
    plan = _physical(quantize_int8(emb))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_cocitation_cap_filters_before_collect(spark):
    """The out-degree gate must be planned BEFORE the out-link
    collect_list (a link-farm hub never materializes its list) - the
    same ordering contract as capped_bucket_pairs."""
    from eventrelationextractor_spark.ops.graph import cocitation
    e = spark.createDataFrame(
        [("hub", f"t{i}") for i in range(50)]
        + [("s", "a"), ("s", "b")], "src string, dst string")
    df = cocitation(e, max_out_degree=10)
    plan = _physical(df)
    assert "collect_list" in plan
    assert plan.index("collect_list") < plan.rindex("count(")
    assert {(r.a, r.b, r.n_common) for r in df.collect()} == {("a", "b", 1)}


def test_resumable_write_iceberg_branch(spark, tmp_path):
    """catalog='iceberg' validation is always testable; the actual
    writeTo(...).overwritePartitions() path runs only when Iceberg jars
    + a catalog are available on the session (skipped otherwise - the
    sandbox ships no Iceberg; the branch exists so the documented
    resume semantics are code the day jars appear)."""
    import pytest

    pages = stages.synth_pages_df(spark, 8, partitions=2)
    with pytest.raises(ValueError, match="requires a table"):
        lineage.write_triples_resumable(
            pages, str(tmp_path / "t"), catalog="iceberg")
    with pytest.raises(ValueError, match="unknown catalog"):
        lineage.write_triples_resumable(
            pages, str(tmp_path / "t"), catalog="delta")
    # DDL shape is pinned (identity bucket partition, full triple schema)
    ddl = lineage._iceberg_ddl("local.db.triples", 8)
    assert "USING iceberg" in ddl and "PARTITIONED BY (bucket)" in ddl

    try:
        spark.sql("CREATE NAMESPACE IF NOT EXISTS spark_catalog.erexdb")
        probe = "spark_catalog.erexdb.erex_iceberg_probe"
        spark.sql(f"CREATE TABLE {probe} (x INT) USING iceberg")
    except Exception:
        pytest.skip("no Iceberg catalog/jars on this session")
    spark.sql(f"DROP TABLE IF EXISTS {probe}")
    out = str(tmp_path / "iceberg_manifest")
    r = lineage.write_triples_resumable(
        pages, out, n_buckets=4, mode="temporal",
        catalog="iceberg", table="spark_catalog.erexdb.triples")
    assert sorted(r["written"]) == list(range(4))
    r2 = lineage.write_triples_resumable(
        pages, out, n_buckets=4, mode="temporal",
        catalog="iceberg", table="spark_catalog.erexdb.triples")
    assert r2["written"] == [] and sorted(r2["skipped"]) == list(range(4))


# ------------------------------------------------- operator plan shapes


def test_stream_enrich_is_equi_join_with_residual_range(spark):
    """interval_enrich's batch plan must be a keyed join (the user-id
    equality) with the 30-min bound as a residual condition - never a
    nested loop over the event stream. (The streaming plan is a
    SymmetricHashJoin on the same key by construction.)"""
    import __spark_entry__ as entry

    df = entry.queries()["events_stream_enrich"](
        spark, "/root/testdata/sf0.001")
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hdr_group_quantiles_single_sketch_shuffle(spark):
    """Grouped HDR extraction: exactly one Exchange builds the grouped
    sketch; the quantile windows repartition by the group key over
    SKETCH rows (<= ~90/decade/group), never the data, and the q-spec
    join is a broadcast of a 3-row literal."""
    import __spark_entry__ as entry

    df = entry.queries()["hdr_group_quantiles"](
        spark, "/root/testdata/sf0.001")
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    # the only join is the broadcast of the tiny quantile spec
    assert plan.count("SortMergeJoin") == 0
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_ivm_refresh_no_base_rescan_shape(spark):
    """ivm_refresh(snapshot, delta_rollup) over ALREADY-AGGREGATED
    frames plans as union + one aggregate: no join, no window - the
    refresh cost is bounded by rollup cardinality."""
    from eventrelationextractor_spark.ops import maintenance

    snap = spark.createDataFrame(
        [("a", 1, 2, 10, 4, 6)], "k string, day long, n long, "
        "sum_m long, min_m long, max_m long")
    delta = spark.createDataFrame(
        [("a", 1, 1, 5, 5, 5)], snap.schema)
    plan = _physical(maintenance.ivm_refresh(snap, delta))
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") <= 1


def test_session4_new_shapes_no_nested_loops(spark):
    """Round-4 session-4 operator shapes: record_linkage's blocked pair
    generation must be an equi-join (a nested loop here is the
    all-pairs catastrophe blocking exists to prevent), and
    session_transitions' lead window must stay hash/merge. Single-row
    scalar crossJoins (MAD medians, vocab_growth's range row) are the
    intended BNLJ-of-1 and exempt."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    fact_scale = ["record_linkage", "session_transitions"]
    for name in fact_scale:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    scalar_cross = ["mad_outliers", "vocab_growth"]
    for name in scalar_cross:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name


def test_record_linkage_blocked_equi_join(spark):
    """The linkage pair generator must key on the block columns (a
    shuffled equi-join), with the field comparisons as projections -
    never as join conditions that degrade the join to a loop."""
    import __spark_entry__ as entry

    plan = _physical(entry.queries()["record_linkage"](
        spark, "/root/testdata/sf0.001"))
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_session5_new_shapes_no_nested_loops(spark):
    """Round-4 session-5 operator shapes: phrase_search's postings
    group and pr_curve's window over distinct scores must stay keyed -
    a nested loop in either is an all-pairs blowup.
    Single-row scalar crossJoins (roc_auc totals, MI label marginals,
    frequent_pairs' n_baskets row) are the intended BNLJ-of-1 and
    exempt from the BNLJ assert."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    fact_scale = ["phrase_search", "pr_curve"]
    for name in fact_scale:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    scalar_cross = ["frequent_pairs", "roc_auc", "token_label_mi"]
    for name in scalar_cross:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name


def test_frequent_pairs_prunes_before_self_join(spark):
    """Downward closure must land BEFORE the basket self-join: the
    frequent-item filter feeds a broadcast semi-reduction of the
    basket table, and the pair generator keys on basket (equi)."""
    import __spark_entry__ as entry

    plan = _physical(entry.queries()["frequent_pairs"](
        spark, "/root/testdata/sf0.001"))
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "CartesianProduct" not in plan


def test_session7_new_shapes_no_nested_loops(spark):
    """Round-4 session-7 shapes: prefix_filter_pairs' prefix-to-prefix
    candidate join + full-set verify join and weighted_median's
    value-grain windows must stay keyed equi-joins / windows — never a
    loop join. naive_bayes and zipf_fit carry intended 1-row broadcast
    scalar crossJoins (priors / fit totals) and are asserted
    CartesianProduct-free only."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    strict = ["prefix_filter_pairs", "weighted_median"]
    for name in strict:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    for name in ["naive_bayes", "zipf_fit"]:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name


def test_prefix_filter_model_join_is_hash(spark):
    """The naive-Bayes likelihood join must broadcast the <=n_buckets
    model (pinned — bounded by construction), and prefix_filter's
    verify join must be a shuffled/hash equi-join on the shingle key."""
    import __spark_entry__ as entry

    qs = entry.queries()
    plan = _physical(qs["naive_bayes"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    plan = _physical(qs["prefix_filter_pairs"](
        spark, "/root/testdata/sf0.001"))
    # every dimension in this operator is vocabulary/corpus-scale by
    # construction: merge hints must pin ALL of its joins out of the
    # broadcast planner (the sf1.0 driver-OOM regression guard)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_session8_new_shapes_no_nested_loops(spark):
    """Round-4 session-8 shape: RAKE's freq/degree join-back must stay
    a keyed equi-join - never a loop join."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    for name in ["rake_keyphrases"]:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_session9_new_shapes_no_nested_loops(spark):
    """Round-4 session-9 shapes: SCC's frontier sweeps + full-outer
    intersect and MaxSim's vocab equi-join must stay keyed - never a
    loop join. (ams_f2 is a pure aggregation; gazetteer_spans is a
    zero-shuffle mapInPandas.)"""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    for name in ["scc_pivot", "maxsim_search", "ams_f2",
                 "gazetteer_spans"]:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_single_row_dimension_crossjoins(spark):
    """ltr_features shares bm25_topk's geometry: its ONLY nested-loop
    join, like decision_stump's, is the broadcast of a 1-row
    corpus-stats/totals dimension (a single-row crossJoin is the
    correct plan at any scale); every data join must stay keyed."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in ["ltr_features", "decision_stump"]:
        plan = _physical(qs[name](spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastNestedLoopJoin") == 1, name


def test_gazetteer_spans_zero_shuffle(spark):
    """The tagger is map-side only: no Exchange anywhere in the plan."""
    import __spark_entry__ as entry

    plan = _physical(entry.queries()["gazetteer_spans"](
        spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan


def test_maxsim_query_side_stays_scalar(spark):
    """MaxSim's query vectors are inlined literals: the plan must not
    contain a join against a query-vector table (one equi-join total -
    postings x vocab) and the top-k must be TakeOrderedAndProject."""
    import __spark_entry__ as entry

    plan = _physical(entry.queries()["maxsim_search"](
        spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan


def test_session10_new_shapes_no_nested_loops(spark):
    """Round-4 session-10 shapes: skip-gram's probe-key equi-join (a
    range join would BNLJ), symspell's delete-key equi-join, MATTR's
    per-(doc,term) lag, the fd aggregation and the spearman rank
    windows must all stay keyed."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    qs = entry.queries()
    for name in ["symspell_correct", "mattr_diversity",
                 "fd_violations", "spearman_rho"]:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # these carry exactly ONE legitimate nested-loop join: the 1-row
    # totals/prior broadcast (the ltr_features contract); every DATA
    # join must stay keyed
    for name in ["skipgram_ppmi", "woe_iv"]:
        plan = _physical(qs[name](spark, sf))
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastNestedLoopJoin") == 1, name


def test_media_sobel_zero_shuffle(spark):
    """Sobel is one mapInPandas over payloads: no Exchange anywhere."""
    import __spark_entry__ as entry

    plan = _physical(entry.queries()["media_sobel"](
        spark, "/root/testdata/sf0.001"))
    assert "Exchange" not in plan


def test_matryoshka_broadcasts_query_side_only(spark):
    """Each per-dim pass streams the corpus once against a broadcast
    n_queries-row side: every nested-loop join in the plan must be a
    broadcast of that tiny side (one per dim), never a shuffle-side
    cartesian."""
    import __spark_entry__ as entry

    plan = _physical(entry.queries()["matryoshka_eval"](
        spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    # 4 per-dim query-side broadcasts (+1 planner artifact under AQE);
    # the bound is what matters: no corpus-x-corpus loop join
    assert 1 <= plan.count("BroadcastNestedLoopJoin") <= 5
