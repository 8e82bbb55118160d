"""Round-5 session-6 operators: TRUE Damerau-Levenshtein blocked
linkage, binary-sign-quantized Hamming top-k ANN, exact KNN-Shapley
data valuation, consistent-hash ring assignment, and LRU
reuse-distance histograms.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from eventrelationextractor_spark.ops import linkage, simsearch

# ------------------------------------------------- damerau-levenshtein


def test_damerau_levenshtein_true_metric_discriminator():
    """DL('CA','ABC') = 2 (CA -> AC -> ABC) is THE case that separates
    the unrestricted Lowrance-Wagner metric from the restricted
    optimal-string-alignment DP, which answers 3."""
    assert linkage.damerau_levenshtein("CA", "ABC") == 2


def test_damerau_levenshtein_textbook_values():
    dl = linkage.damerau_levenshtein
    assert dl("", "") == 0
    assert dl("", "abc") == 3
    assert dl("abc", "") == 3
    assert dl("abc", "abc") == 0
    assert dl("hte", "the") == 1          # adjacent transposition
    assert dl("kitten", "sitting") == 3   # classic Levenshtein case
    assert dl("abcdef", "abcfed") == 2    # non-adjacent swap: 2 subs
    assert dl("ab", "ba") == 1
    assert dl("ab", "bca") == 2           # transpose + insert


def test_damerau_levenshtein_matches_duckdb_builtin():
    """Pair-product parity vs DuckDB's damerau_levenshtein builtin —
    the exact-twin contract the dl_linkage oracle relies on (same
    shape as the jaro_winkler parity pin)."""
    import duckdb
    words = ["the", "hte", "then", "than", "crate", "trace", "ca",
             "abc", "acb", "banana", "bananas", "nanaba", "", "a",
             "ab", "ba", "abcd", "acbd", "badc", "dcba", "zzzz",
             "martha", "marhta", "dixon", "dicksonx"]
    con = duckdb.connect()
    for a in words:
        for b in words:
            got = linkage.damerau_levenshtein(a, b)
            want = con.sql(
                "SELECT damerau_levenshtein(?, ?)",
                params=[a, b]).fetchone()[0]
            assert got == want, (a, b, got, want)


def test_blocked_dl_pairs_blocks_and_threshold(spark):
    df = spark.createDataFrame(
        [("the", "T000"), ("hte", "T000"), ("teh", "T000"),
         ("than", "T000"), ("zebra", "Z160"), ("zebras", "Z162")],
        "term string, sdx string")
    out = {(r.a, r.b): r.dl
           for r in linkage.blocked_dl_pairs(
               df, "sdx", "term", max_dist=2).collect()}
    # transpositions of 'the' are 1 edit, not 2
    assert out[("hte", "the")] == 1
    assert out[("teh", "the")] == 1
    assert out[("hte", "teh")] == 2       # hte -> the -> teh
    # zebra/zebras share no block key -> pruned even though dl = 1
    assert ("zebra", "zebras") not in out
    # every surviving pair respects the threshold and a < b ordering
    assert all(d <= 2 for d in out.values())
    assert all(a < b for a, b in out)


# ------------------------------------------------- hamming ann


def _sign_words_np(vecs):
    bits = (np.asarray(vecs) > 0).astype(np.int64)
    words = []
    for row in bits:
        ws = []
        for k in range(row.shape[0] // 32):
            w = 0
            for i in range(32):
                w |= int(row[k * 32 + i]) << i
            ws.append(w)
        words.append(ws)
    return np.asarray(words, dtype=np.int64)


def test_sign_words_bit_layout(spark):
    """Bit i of word k is set iff element k*32+i is STRICTLY
    positive; zeros and negatives stay clear."""
    v = [0.0] * 64
    v[0] = 1.0          # word 0, bit 0
    v[31] = 2.5         # word 0, bit 31 (top bit of the 32-bit word)
    v[32] = -1.0        # negative -> clear
    v[63] = 1e-9        # word 1, bit 31
    df = spark.createDataFrame([(7, v)],
                               "vec_id long, embedding array<float>")
    row = simsearch.sign_words(df, dim=64).collect()[0]
    assert row.w0 == (1 << 0) | (1 << 31)
    assert row.w1 == (1 << 31)
    # 32-bit words never touch the BIGINT sign bit
    assert 0 <= row.w0 < (1 << 32) and 0 <= row.w1 < (1 << 32)


def test_hamming_topk_matches_numpy_reference(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 64).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>")
    got = simsearch.hamming_topk(df, n_queries=3, k=4).collect()

    words = _sign_words_np(vecs)
    want = {}
    for q in range(3):
        d = [(int(bin(words[q][0] ^ words[c][0]).count("1")
                  + bin(words[q][1] ^ words[c][1]).count("1")), c)
             for c in range(40) if c != q]
        d.sort()
        want[q] = d[:4]
    assert len(got) == 12
    for r in got:
        h, c = want[r.query_id][r.rank - 1]
        assert (r.hamming, r.neighbor_id) == (h, c)


# ------------------------------------------------- knn shapley


def test_knn_shapley_matches_direct_recurrence(spark):
    """Window suffix-sum formulation == the textbook sequential
    recurrence (Jia et al. Thm 1) in identical lockstep nano-units,
    over every (test, train) pair of a random fixture."""
    rng = np.random.RandomState(3)
    N, T, K = 30, 4, 3
    vecs = rng.randn(N, 8).astype(np.float32)
    labels = rng.randint(0, 3, N)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], int(labels[i]))
         for i in range(N)],
        "vec_id long, embedding array<float>, label int")
    got = simsearch.knn_shapley(df, n_test=T, k_nn=K, topn=N)
    rows = {(r.query_id, r.train_id): r.shap_nano for r in got.collect()}
    for t in range(T):
        d2 = sorted(
            (round(float(np.sum((vecs[c].astype(np.float64)
                                 - vecs[t].astype(np.float64)) ** 2)), 6),
             c) for c in range(T, N))
        n = len(d2)
        m = [1 if labels[c] == labels[t] else 0 for _, c in d2]
        s = [0] * n
        s[n - 1] = m[n - 1] * (10 ** 9 // n)
        for i in range(n - 2, -1, -1):
            s[i] = s[i + 1] + (m[i] - m[i + 1]) * (10 ** 9 // max(K, i + 1))
        for i, (_, c) in enumerate(d2):
            assert rows[(t, c)] == s[i]


def test_knn_shapley_identical_point_is_most_valuable(spark):
    """A training point that duplicates the test point (same vector,
    same label) ranks #1 with a positive value; the same vector with
    a WRONG label gets a non-positive value."""
    base = [1.0] * 4
    far = [-9.0, 8.0, -7.0, 6.0]
    rows = [(0, base, 0),            # test point
            (10, base, 0),           # perfect twin
            (11, base, 1),           # same vector, wrong label
            (12, far, 0), (13, far, 1), (14, far, 1)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = simsearch.knn_shapley(df, n_test=1, k_nn=2, topn=5).collect()
    byrank = sorted(out, key=lambda r: r.rank)
    assert byrank[0].train_id == 10 and byrank[0].shap_nano > 0
    wrong = next(r for r in out if r.train_id == 11)
    assert wrong.shap_nano <= 0


# ------------------------------------------------- hash ring


def test_hash_ring_minimal_movement(spark):
    from eventrelationextractor_spark.ops import maintenance as mt
    df = spark.range(2000).select(F.col("id").alias("k"))
    rows = {r.node: (r.n_keys, r.n_moved_away)
            for r in mt.hash_ring_assign(df, "k", n_nodes=8,
                                         n_vnodes=16,
                                         drop_node=3).collect()}
    assert sum(v[0] for v in rows.values()) == 2000
    # the defining ring property: ONLY the dropped node's keys move
    assert rows[3][0] == rows[3][1] and rows[3][0] > 0
    assert all(v[1] == 0 for n, v in rows.items() if n != 3)
    # vnodes keep the split within sane bounds (no starved node)
    assert all(v[0] > 0 for v in rows.values())


def test_hash_ring_no_drop_means_no_movement(spark):
    from eventrelationextractor_spark.ops import maintenance as mt
    df = spark.range(300).select(F.col("id").alias("k"))
    rows = mt.hash_ring_assign(df, "k", drop_node=None).collect()
    assert sum(r.n_keys for r in rows) == 300
    assert all(r.n_moved_away == 0 for r in rows)


# ------------------------------------------------- reuse distance


def test_reuse_distance_hand_computed(spark):
    """Stream A B A C B A per user: distances -1,-1,1,-1,2,2 (LRU
    stack positions), so the histogram is {-1:3, 1:1, 2:2}."""
    from eventrelationextractor_spark.ops import events as ev
    rows = []
    for u in (1, 2):
        for i, k in enumerate(["A", "B", "A", "C", "B", "A"]):
            rows.append((u, k, i, u * 100 + i))
    df = spark.createDataFrame(
        rows, "user_id long, k string, ts long, event_id long")
    got = {r.distance: r.n_accesses
           for r in ev.reuse_distance_hist(df).collect()}
    assert got == {-1: 6, 1: 2, 2: 4}


def test_reuse_distance_repeat_access_is_zero(spark):
    from eventrelationextractor_spark.ops import events as ev
    rows = [(1, "X", i, i) for i in range(5)]
    df = spark.createDataFrame(
        rows, "user_id long, k string, ts long, event_id long")
    got = {r.distance: r.n_accesses
           for r in ev.reuse_distance_hist(df).collect()}
    assert got == {-1: 1, 0: 4}


def test_reuse_distance_conservation(spark):
    """Histogram mass == total accesses; cold count == distinct
    (user, key) pairs; max distance < per-user key cardinality."""
    from eventrelationextractor_spark.ops import events as ev
    rng = np.random.RandomState(11)
    rows = [(int(u), f"k{rng.randint(0, 7)}", int(i), int(u * 1000 + i))
            for u in range(3) for i in range(50)]
    df = spark.createDataFrame(
        rows, "user_id long, k string, ts long, event_id long")
    got = {r.distance: r.n_accesses
           for r in ev.reuse_distance_hist(df).collect()}
    assert sum(got.values()) == 150
    n_cold = len({(u, k) for u, k, _, _ in rows})
    assert got[-1] == n_cold
    assert max(got) < 7


# ------------------------------------------------- wl colors


def test_wl_colors_distinguishes_triangle_from_path(spark):
    from eventrelationextractor_spark.ops import graph as g
    # triangle 0-1-2 plus path 10-11-12 (disjoint)
    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(r.n_nodes for r in g.wl_colors(df).collect())
    # triangle: all 3 nodes one color; path: 2 endpoints + 1 middle
    assert got == [1, 2, 3]


def test_wl_colors_isomorphic_components_share_colors(spark):
    from eventrelationextractor_spark.ops import graph as g
    # two disjoint 4-cycles: every node degree-2 with identical
    # neighborhood trees -> ONE color covering all 8 nodes
    edges = [(0, 1), (1, 2), (2, 3), (3, 0),
             (10, 11), (11, 12), (12, 13), (13, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = g.wl_colors(df, n_rounds=3).collect()
    assert len(rows) == 1 and rows[0].n_nodes == 8


def test_wl_colors_isolated_node_and_rounds(spark):
    from eventrelationextractor_spark.ops import graph as g
    edges = [(0, 1)]
    nodes = spark.createDataFrame([(0,), (1,), (9,)], "node long")
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = g.wl_colors(df, nodes=nodes, n_rounds=2).collect()
    # the 0-1 pair is symmetric (one color, 2 nodes); 9 is its own
    assert sorted(r.n_nodes for r in rows) == [1, 2]


# ------------------------------------------------- team draft


def _runs(spark, a, b, rel):
    ra = spark.createDataFrame(
        [("q", i + 1, d) for i, d in enumerate(a)],
        "qid string, rank long, doc_id long")
    rb = spark.createDataFrame(
        [("q", i + 1, d) for i, d in enumerate(b)],
        "qid string, rank long, doc_id long")
    j = spark.createDataFrame(
        [("q", d, 1) for d in rel] or [("q", -1, 0)],
        "qid string, doc_id long, rel long")
    return ra, rb, j


def test_team_draft_disjoint_lists_coin_independent(spark):
    from eventrelationextractor_spark.ops import bm25 as bmod
    # disjoint lists: whatever the coin does, team A can only ever
    # contribute {1,2} and team B {3,4}; rel = {1,2} -> A wins 2:0
    ra, rb, j = _runs(spark, [1, 2], [3, 4], [1, 2])
    row = bmod.team_draft_interleave(ra, rb, j, k=10).collect()[0]
    assert (row.credit_a, row.credit_b, row.winner) == (2, 0, "A")


def test_team_draft_identical_lists_tie(spark):
    from eventrelationextractor_spark.ops import bm25 as bmod
    # identical 4-doc lists, everything relevant: each team drafts
    # exactly 2 docs regardless of coin order -> 2:2 tie
    ra, rb, j = _runs(spark, [1, 2, 3, 4], [1, 2, 3, 4], [1, 2, 3, 4])
    row = bmod.team_draft_interleave(ra, rb, j, k=10).collect()[0]
    assert (row.credit_a, row.credit_b, row.winner) == (2, 2, "tie")


def test_team_draft_exhaustion_and_k_cap(spark):
    from eventrelationextractor_spark.ops import bm25 as bmod
    # both lists exhaust after 2 picks; only doc 2 is relevant
    ra, rb, j = _runs(spark, [1], [2], [2])
    row = bmod.team_draft_interleave(ra, rb, j, k=10).collect()[0]
    assert (row.credit_a, row.credit_b, row.winner) == (0, 1, "B")
    # k=1: only the coin-chosen first pick exists; credits sum <= 1
    row1 = bmod.team_draft_interleave(ra, rb, j, k=1).collect()[0]
    assert row1.credit_a + row1.credit_b <= 1


# ------------------------------------------------- plan shapes


def _physical(df) -> str:
    return df._jdf.queryExecution().toString() \
        .split("== Physical Plan ==")[-1]


def test_hamming_topk_broadcasts_query_side(spark):
    """The query side must ride a BroadcastNestedLoopJoin (corpus
    streams once); no SortMergeJoin may appear anywhere."""
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(64)])
            for i in range(60)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>")
    plan = _physical(simsearch.hamming_topk(df, n_queries=3, k=2))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hash_ring_assignment_is_map_side(spark):
    """Ring probing must be a broadcast array lookup: no SortMergeJoin
    anywhere, both ring sides broadcast, and the only hash exchanges
    are the key-dedup and the final statistic-scale groupBy(node) —
    never a shuffle keyed on ring positions."""
    from eventrelationextractor_spark.ops import maintenance as mt
    df = spark.range(500).select(F.col("id").alias("k"))
    plan = _physical(mt.hash_ring_assign(df, "k", drop_node=3))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 2
    assert plan.count("Exchange hashpartitioning") == 2


def test_knn_shapley_no_shuffle_before_window(spark):
    """Scoring is a broadcast nested loop; the only exchanges are the
    qid window partitions (hashpartitioning on qid), never a
    SortMergeJoin of the train side."""
    rows = [(i, [float((i + j) % 7) for j in range(64)], i % 2)
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    plan = _physical(simsearch.knn_shapley(df, n_test=3, k_nn=2))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------------------- rich club


def test_rich_club_clique_plus_pendant(spark):
    """4-clique {1..4} + pendant 5-1: at k=1 the induced deg>1
    subgraph is exactly the clique (phi = 1.0); above the hub degrees
    the subgraph vanishes (phi NULL)."""
    from eventrelationextractor_spark.ops import graph as g
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.k: (r.n_nodes, r.n_edges, r.phi_ppm)
            for r in g.rich_club(df).collect()}
    assert rows[1] == (4, 6, 1_000_000)
    assert rows[3] == (1, 0, None)
    assert rows[4] == (0, 0, None)
    assert set(rows) == {1, 3, 4}


def test_rich_club_duplicate_and_reversed_edges_collapse(spark):
    from eventrelationextractor_spark.ops import graph as g
    edges = [(1, 2), (2, 1), (1, 2), (1, 1)]   # dups + self loop
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.k: (r.n_nodes, r.n_edges)
            for r in g.rich_club(df).collect()}
    assert rows == {1: (0, 0)}   # one edge, both nodes degree 1


# ------------------------------------------------- rbo


def _rbo_ref(a, b, depth=10):
    """Independent lockstep reference."""
    tot, ov10 = 0, 0
    for d in range(1, depth + 1):
        ov = len(set(a[:d]) & set(b[:d]))
        if d == depth:
            ov10 = ov
        tot += (ov * (9 ** (d - 1)) * (10 ** (10 - d))) // d
    return ov10, tot


def _rbo_run(spark, name, lst):
    return spark.createDataFrame(
        [("q", i + 1, d) for i, d in enumerate(lst)],
        "qid string, rank long, doc_id long")


def test_rbo_identical_and_disjoint(spark):
    from eventrelationextractor_spark.ops import bm25 as bmod
    same = list(range(1, 11))
    ra = _rbo_run(spark, "a", same)
    row = bmod.rbo_truncated(ra, ra).collect()[0]
    # sum of all 10 weights = 1e10 - 9^10
    assert (row.overlap_at_depth, row.rbo_e10) == (10, 6513215599)
    rb = _rbo_run(spark, "b", list(range(100, 110)))
    row0 = bmod.rbo_truncated(ra, rb).collect()[0]
    assert (row0.overlap_at_depth, row0.rbo_e10) == (0, 0)


def test_rbo_matches_reference_on_partial_overlap(spark):
    from eventrelationextractor_spark.ops import bm25 as bmod
    a = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    b = [3, 1, 11, 2, 12, 5, 13, 4, 14, 6]
    row = bmod.rbo_truncated(_rbo_run(spark, "a", a),
                             _rbo_run(spark, "b", b)).collect()[0]
    ov, tot = _rbo_ref(a, b)
    assert (row.overlap_at_depth, row.rbo_e10) == (ov, tot)
    # top-weightedness: sharing the TOP ranks beats sharing the tail
    top = [1, 2, 99, 98, 97, 96, 95, 94, 93, 92]
    tail = [91, 92, 93, 94, 95, 96, 97, 98, 1, 2]
    r_top = bmod.rbo_truncated(_rbo_run(spark, "a", a),
                               _rbo_run(spark, "b", top)).collect()[0]
    r_tail = bmod.rbo_truncated(_rbo_run(spark, "a", a),
                                _rbo_run(spark, "b", tail)).collect()[0]
    assert r_top.rbo_e10 > r_tail.rbo_e10


# ------------------------------------------------- bleu


def test_bleu_clipping_papineni_example(spark):
    """The canonical clipping case: sys = 'the' x 7 against a
    reference with two 'the's -> clipped unigram matches 2/7."""
    from eventrelationextractor_spark.ops import textstats as ts
    df = spark.createDataFrame(
        [(1, "the cat is on the mat", "the the the the the the the")],
        "doc_id long, ref string, sys string")
    rows = {r.n: r for r in ts.bleu_stats(df, "ref", "sys").collect()}
    assert (rows[1].match_n, rows[1].sys_n) == (2, 7)
    assert rows[1].p_ppm == 2 * 10**6 // 7
    # no sys bigram repeats in the reference -> zero 2-gram matches
    assert rows[2].match_n == 0 and rows[2].sys_n == 6
    assert (rows[1].ref_len, rows[1].sys_len) == (6, 7)


def test_bleu_identical_text_is_perfect(spark):
    from eventrelationextractor_spark.ops import textstats as ts
    df = spark.createDataFrame(
        [(1, "a b c d e f", "a b c d e f"),
         (2, "x y z w q r s", "x y z w q r s")],
        "doc_id long, ref string, sys string")
    rows = {r.n: r for r in ts.bleu_stats(df, "ref", "sys").collect()}
    for n in (1, 2, 3, 4):
        assert rows[n].match_n == rows[n].sys_n == rows[n].ref_n
        assert rows[n].p_ppm == 1_000_000
    assert rows[1].ref_len == rows[1].sys_len == 13


def test_bleu_clipping_is_per_document(spark):
    """Clipping happens inside each doc pair BEFORE corpus pooling:
    a sys 'the' in doc 2 cannot borrow doc 1's reference count."""
    from eventrelationextractor_spark.ops import textstats as ts
    df = spark.createDataFrame(
        [(1, "the the the the", "the"),
         (2, "cat", "the the")],
        "doc_id long, ref string, sys string")
    rows = {r.n: r for r in ts.bleu_stats(df, "ref", "sys").collect()}
    # doc1 contributes min(1,4)=1; doc2 min(2,0)=0 -> 1 of 3
    assert (rows[1].match_n, rows[1].sys_n) == (1, 3)


# ------------------------------------------------- systematic pps


def test_systematic_pps_exact_total_and_multiplicity(spark):
    from eventrelationextractor_spark.ops import mixing as mx
    rows = [(i, 10) for i in range(50)] + [(99, 400)]  # one heavy item
    df = spark.createDataFrame(rows, "doc_id long, wgt long")
    out = mx.systematic_pps(df, "wgt", n_samples=30).collect()
    # zero-variance design: total copies == n_samples exactly
    assert sum(r.n_copies for r in out) == 30
    heavy = next(r for r in out if r.doc_id == 99)
    # heavy item spans 400/900 of the line -> floor/ceil of 30*4/9
    assert heavy.n_copies in (13, 14)


def test_systematic_pps_bucket_offsets_match_plain_cumsum(spark):
    """The distributed bucket-offset cumsum must equal the plain
    sequential formulation (replayed in python) item for item."""
    from eventrelationextractor_spark.ops import mixing as mx
    import numpy as _np
    rng = _np.random.RandomState(5)
    rows = [(int(i * 7 % 9973), int(rng.randint(1, 50)))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, wgt long")
    n = 40
    got = {r.doc_id: r.n_copies
           for r in mx.systematic_pps(df, "wgt", n_samples=n,
                                      bucket_size=100).collect()}
    srt = sorted(rows)
    W = sum(w for _, w in srt)
    s = W // 2
    c = 0
    want = {}
    for i, w in srt:
        f_lo = (c * n + W - s) // W - 1
        c += w
        f_hi = (c * n + W - s) // W - 1
        if f_hi - f_lo > 0:
            want[i] = f_hi - f_lo
    assert got == want
    assert sum(want.values()) == n


# ------------------------------------------------- attack robustness


def test_attack_robustness_star_shatters_at_k1(spark):
    """A 6-spoke star: k=0 is one 7-node component; removing the
    single hub (k=1) leaves no edges at all."""
    from eventrelationextractor_spark.ops import graph as g
    edges = [(0, i) for i in range(1, 7)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.k: r for r in g.attack_robustness(
        df, ks=(0, 1)).collect()}
    assert (rows[0].n_removed, rows[0].n_edges_left,
            rows[0].largest_cc, rows[0].n_components) == (0, 6, 7, 1)
    assert (rows[1].n_removed, rows[1].n_edges_left,
            rows[1].largest_cc, rows[1].n_components) == (1, 0, 0, 0)


def test_attack_robustness_two_triangles_bridged(spark):
    """Two triangles joined through a degree-4 bridge node: removing
    the bridge splits one 7-node component into two triangles."""
    from eventrelationextractor_spark.ops import graph as g
    edges = [(1, 2), (2, 3), (1, 3),      # triangle A
             (4, 5), (5, 6), (4, 6),      # triangle B
             (0, 1), (0, 4)]              # bridge node 0
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r.k: r for r in g.attack_robustness(
        df, ks=(0, 1)).collect()}
    assert (rows[0].largest_cc, rows[0].n_components) == (7, 1)
    # node 0 has degree 2, the triangle nodes 1 and 4 degree 3: the
    # top-1 hub (tie-break on id) is node 1. Removing it strands the
    # {2,3} pair while 0 stays attached to triangle B through 0-4.
    assert rows[1].n_removed == 1
    assert (rows[1].largest_cc, rows[1].n_components) == (4, 2)


def test_attack_robustness_k_exceeding_nodes(spark):
    from eventrelationextractor_spark.ops import graph as g
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    rows = {r.k: r for r in g.attack_robustness(
        df, ks=(0, 8)).collect()}
    assert rows[8].n_removed == 2        # only 2 nodes exist
    assert (rows[8].n_edges_left, rows[8].largest_cc) == (0, 0)


# ------------------------------------------------- haar


def test_haar_hand_computed_series(spark):
    """Counts [4,2,1,1,0,...]: level-1 contrasts (2, 0, 0, ...),
    level-4 contrasts the halves (8)."""
    from eventrelationextractor_spark.ops import events as ev
    import datetime
    rows = []
    day_counts = {0: 4, 1: 2, 2: 1, 3: 1}
    for day, c in day_counts.items():
        for _ in range(c):
            rows.append((7, datetime.datetime(1970, 1, 1 + day)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r.level, r.pos): r.coeff
           for r in ev.haar_coefficients(df).collect()}
    assert len(got) == 15
    assert got[(1, 0)] == 2 and got[(1, 1)] == 0
    assert got[(2, 0)] == (4 + 2) - (1 + 1)
    assert got[(3, 0)] == 8 and got[(3, 1)] == 0
    assert got[(4, 0)] == 8            # all mass in the first half


def test_haar_uniform_series_is_flat(spark):
    """A perfectly uniform series has EVERY coefficient zero — the
    wavelet signature of no structure at any scale."""
    from eventrelationextractor_spark.ops import events as ev
    import datetime
    rows = [(1, datetime.datetime(1970, 1, 1) +
             datetime.timedelta(days=d)) for d in range(32)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = [r.coeff for r in ev.haar_coefficients(df).collect()]
    assert len(got) == 15 and all(c == 0 for c in got)


# ------------------------------------------------- wilson rank


def test_wilson_small_sample_shrinks_below_large(spark):
    """1/1 must NOT outrank 98/102 — the defining Wilson property
    the naive average gets backwards."""
    from eventrelationextractor_spark.ops import quality as q
    rows = ([("tiny", 1)] +                      # 1/1
            [("big", 1)] * 98 + [("big", 0)] * 4)  # 98/102
    df = spark.createDataFrame(rows, "h string, succ int")
    got = {r.h: r for r in q.wilson_rank(df, "h", "succ").collect()}
    assert got["tiny"].naive_ppm == 1_000_000
    assert got["tiny"].naive_ppm > got["big"].naive_ppm
    assert got["big"].wilson_ppm > got["tiny"].wilson_ppm
    assert got["big"].rank == 1 and got["tiny"].rank == 2


def test_wilson_reference_value(spark):
    """47/50 at z=1.96 -> lower bound ~0.8363 (textbook check)."""
    from eventrelationextractor_spark.ops import quality as q
    rows = [("x", 1)] * 47 + [("x", 0)] * 3
    df = spark.createDataFrame(rows, "h string, succ int")
    row = q.wilson_rank(df, "h", "succ").collect()[0]
    z = 1.96
    p, n = 47 / 50, 50.0
    zz = z * z
    want = ((p + zz / (2 * n)
             - z * ((p * (1 - p) / n + zz / (4 * n * n)) ** 0.5))
            / (1 + zz / n))
    import math
    assert row.wilson_ppm == math.floor(1_000_000 * want)
    assert 830_000 < row.wilson_ppm < 840_000


def test_wilson_zero_successes(spark):
    from eventrelationextractor_spark.ops import quality as q
    df = spark.createDataFrame([("h", 0)] * 10, "h string, succ int")
    row = q.wilson_rank(df, "h", "succ").collect()[0]
    assert row.wilson_ppm == 0 and row.naive_ppm == 0


# ------------------------------------------------- bitemporal


def test_bitemporal_late_tx_rewrites_history(spark):
    """As-of BEFORE the correction sees value 10; as-of AFTER sees
    the corrected 99; deletes erase the version; validity bounds are
    half-open [from, to)."""
    from eventrelationextractor_spark.ops import maintenance as mt
    log = spark.createDataFrame(
        [(1, 10, 20, 100, "U", 10),    # believed v=10 for [10,20)
         (1, 10, 20, 200, "U", 99),    # later correction to 99
         (2, 10, 30, 100, "U", 7),
         (2, 10, 30, 150, "D", 0),     # then retracted
         (3, 15, 16, 100, "U", 5)],    # [15,16): gone at valid 16
        "id long, valid_from long, valid_to long, tx_time long, "
        "op string, value long")
    asof = lambda tx, v: {r.id: r.value                 # noqa: E731
                          for r in mt.bitemporal_asof(
                              log, tx, v).collect()}
    assert asof(120, 15) == {1: 10, 2: 7, 3: 5}   # before correction
    assert asof(250, 15) == {1: 99, 3: 5}         # rewritten + delete
    assert asof(250, 16) == {1: 99}               # half-open valid_to
    assert asof(50, 15) == {}                     # nothing known yet


# ------------------------------------------------- streaming reuse


def _run_reuse_stream(spark, tmp_path, batches, name):
    import os
    import time
    schema = "user_id long, k long, ts long, event_id long"
    src = str(tmp_path / f"{name}_src")
    os.makedirs(src)
    for i, part in enumerate(batches):
        spark.createDataFrame(part, schema).coalesce(1) \
            .write.parquet(os.path.join(src, f"b{i}"))
        time.sleep(1.1)
    from eventrelationextractor_spark.ops import events as ev
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", "1") \
        .option("latestFirst", "false").parquet(src + "/*")
    q = (ev.streaming_reuse(stream)
         .writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_streaming_reuse_matches_batch_across_trigger_split(
        spark, tmp_path):
    """The multiset of per-access distances over a 2-trigger split
    equals the one-shot batch replay — LRU state survives the
    trigger boundary."""
    from eventrelationextractor_spark.ops import events as ev
    seq = ["A", "B", "A", "C", "B", "A", "C", "C"]
    rows = [(1, ord(k), i, i) for i, k in enumerate(seq)]
    b1, b2 = rows[:4], rows[4:]
    got = sorted((r.user_id, r.distance)
                 for r in _run_reuse_stream(spark, tmp_path,
                                            (b1, b2), "reuse_eq"))
    batch = ev.reuse_distance_hist(
        spark.createDataFrame(rows,
                              "user_id long, k long, ts long, "
                              "event_id long"))
    hist = {r.distance: r.n_accesses for r in batch.collect()}
    want = sorted((1, d) for d, n in hist.items() for _ in range(n))
    assert got == want
    # the cross-boundary accesses specifically: A after (B,C) = 2
    assert (1, 2) in got


def test_streaming_reuse_cold_then_hot(spark, tmp_path):
    rows = [(7, 5, 0, 0), (7, 5, 1, 1), (7, 5, 2, 2)]
    got = [r.distance
           for r in _run_reuse_stream(spark, tmp_path, (rows,),
                                      "reuse_hot")]
    assert sorted(got) == [-1, 0, 0]


# ------------------------------------------------- registry hygiene


def test_registry_oracle_parity_and_no_duplicate_keys():
    """Every queries() entry has an oracle_sql() twin and vice versa
    (zero rows-only is the standing contract since round 4), and the
    queries() dict LITERAL contains no duplicate string keys — the
    silent last-wins hazard the round-4 ADVICE flagged on
    gazetteer_spans."""
    import re
    from pathlib import Path

    import __spark_entry__ as entry
    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert o == q, (sorted(q - o), sorted(o - q))

    src = Path(entry.__file__).read_text()
    m = re.search(r'def queries\(\).*?return \{(.*?)\n    \}', src,
                  re.S)
    names = re.findall(r'"([a-z0-9_]+)":', m.group(1))
    dupes = {n for n in names if names.count(n) > 1}
    assert not dupes, dupes
    assert len(names) == len(q)


# ------------------------------------------------- vacuum plan


def test_vacuum_plan_reasons_and_retention(spark):
    from eventrelationextractor_spark.ops import maintenance as mt
    files = spark.createDataFrame(
        [(1, 10, 100),    # referenced by live snap -> NOT deletable
         (2, 10, 100),    # referenced only by dead snap -> expired
         (3, 10, 100),    # never referenced -> orphan
         (4, 50, 100)],   # orphan but too young -> kept
        "file_id long, created_day long, size_bytes long")
    manifests = spark.createDataFrame(
        [(9, 1), (1, 2)], "snapshot_id long, file_id long")
    live = spark.createDataFrame([(9,)], "snapshot_id long")
    got = {r.file_id: r.reason
           for r in mt.vacuum_plan(files, manifests, live,
                                   retain_min_day=30).collect()}
    assert got == {2: "expired", 3: "orphan"}


# ------------------------------------------------- oov curve


def test_oov_curve_hand_corpus(spark):
    """Corpus 'a a a b b c': vocab ranked a(3) b(2) c(1); k=1 covers
    3/6 (oov 500000), k=2 covers 5/6, k=10 covers all (clamped
    vocab_used = ndv = 3, oov 0)."""
    from eventrelationextractor_spark.ops import bm25 as bmod
    df = spark.createDataFrame([(1, "a a a b b c")],
                               "doc_id long, text string")
    got = {r.k: r for r in bmod.oov_curve(df, ks=(1, 2, 10)).collect()}
    assert (got[1].covered_tokens, got[1].oov_ppm) == (3, 500000)
    assert (got[2].covered_tokens, got[2].oov_ppm) == (5, 166666)
    assert (got[10].vocab_used, got[10].oov_ppm) == (3, 0)
    assert all(r.total_tokens == 6 for r in got.values())


def test_oov_curve_ngram_units(spark):
    """ngram=3 over 'x y z w': grams 'x y z' and 'y z w', each
    frequency 1; k=1 covers half the gram mass."""
    from eventrelationextractor_spark.ops import bm25 as bmod
    df = spark.createDataFrame([(1, "x y z w")],
                               "doc_id long, text string")
    got = {r.k: r
           for r in bmod.oov_curve(df, ks=(1, 2), ngram=3).collect()}
    assert got[1].total_tokens == 2 and got[1].oov_ppm == 500000
    assert got[2].oov_ppm == 0


# ------------------------------------------------- bowtie


def test_bowtie_all_five_classes(spark):
    """Hand graph exercising every class around the MIN-PIVOT core
    (the contract: core = the minimum source node's SCC): core
    2-cycle {0,1}, IN feeder 2->0, OUT sink 1->3, tendril 5 hanging
    off the IN node (weakly connected, on neither directed side),
    disconnected pair {8,9}."""
    from eventrelationextractor_spark.ops import graph as g
    edges = [(0, 1), (1, 0),      # core SCC (pivot 0)
             (2, 0),              # IN
             (1, 3),              # OUT
             (2, 5),              # TENDRIL off the IN node
             (8, 9)]              # disconnected component
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.cls: r.n_nodes for r in g.bowtie_census(df).collect()}
    assert got == {"SCC": 2, "IN": 1, "OUT": 1, "TENDRIL": 1,
                   "DISCONNECTED": 2}


def test_bowtie_hop_budget_truncates_out(spark):
    """A 10-link OUT chain with max_hops=3: forward reach from the
    pivot spends one hop inside the core (1->2), so exactly 2 chain
    nodes classify OUT; the rest fall to TENDRIL (weakly connected,
    outside the budgeted forward set) — the budget IS the
    semantic."""
    from eventrelationextractor_spark.ops import graph as g
    edges = [(1, 2), (2, 1)] + [(i, i + 1) for i in range(2, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.cls: r.n_nodes
           for r in g.bowtie_census(df, max_hops=3).collect()}
    assert got["SCC"] == 2
    assert got["OUT"] == 2
    assert got["TENDRIL"] == 8


# ------------------------------------------------- bh fdr


def test_bh_fdr_hand_case(spark):
    """m=4, q=1/4: sorted thresholds i/16 -> ppm 62500/125000/
    187500/250000 against ps 10000/30000/200000/900000: k*=2,
    T=30000."""
    from eventrelationextractor_spark.ops import quality as q
    df = spark.createDataFrame(
        [(10000,), (30000,), (200000,), (900000,)], "p_ppm long")
    row = q.bh_fdr(df, q_num=1, q_den=4).collect()[0]
    assert (row.m, row.t_ppm, row.n_rejected) == (4, 30000, 2)


def test_bh_fdr_step_up_rescues_smaller_ps(spark):
    """The defining STEP-UP property: p_(1..3) each fail their own
    threshold but p_(4) passes -> ALL FOUR rejected."""
    from eventrelationextractor_spark.ops import quality as q
    df = spark.createDataFrame(
        [(100000,), (240000,), (250000,), (250000,)], "p_ppm long")
    row = q.bh_fdr(df, q_num=1, q_den=4).collect()[0]
    assert (row.t_ppm, row.n_rejected) == (250000, 4)


def test_bh_fdr_nothing_rejected(spark):
    from eventrelationextractor_spark.ops import quality as q
    df = spark.createDataFrame(
        [(900000,), (950000,), (990000,)], "p_ppm long")
    row = q.bh_fdr(df, q_num=1, q_den=20).collect()[0]
    assert row.t_ppm is None and row.n_rejected == 0


# ------------------------------------------------- huffman


def test_huffman_clrs_textbook(spark):
    """CLRS fig 16.5 frequencies -> code lengths a:1 b:3 c:3 d:3
    e:4 f:4; weighted bits = 224."""
    from eventrelationextractor_spark.ops import maintenance as mt
    text = " ".join(["a"] * 45 + ["b"] * 13 + ["c"] * 12
                    + ["d"] * 16 + ["e"] * 9 + ["f"] * 5)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {r.term: (r.freq, r.code_len)
           for r in mt.huffman_dictionary(df).collect()}
    assert got == {"a": (45, 1), "b": (13, 3), "c": (12, 3),
                   "d": (16, 3), "e": (9, 4), "f": (5, 4)}
    assert sum(f * l for f, l in got.values()) == 224


def test_huffman_degenerate_vocabularies(spark):
    from eventrelationextractor_spark.ops import maintenance as mt
    one = spark.createDataFrame([(1, "solo solo solo")],
                                "doc_id long, text string")
    assert mt.huffman_dictionary(one).collect()[0].code_len == 1
    two = spark.createDataFrame([(1, "x x x y")],
                                "doc_id long, text string")
    got = {r.term: r.code_len
           for r in mt.huffman_dictionary(two).collect()}
    assert got == {"x": 1, "y": 1}


# ------------------------------------------------- shapley r2


def test_shapley_r2_sums_to_full_and_planted_signal(spark):
    """y = 3*x1 + noise-free, x2 pure noise decorrelated: phi1
    carries ~all of R^2, phi1 + phi2 == r2_full exactly (integer
    ppm off-by-one from the two floors at most)."""
    from eventrelationextractor_spark.ops import quality as q
    rows = [(3 * i, i, (i * 7 + 3) % 5) for i in range(40)]
    df = spark.createDataFrame(rows, "y long, x1 long, x2 long")
    r = q.shapley_r2(df, "y", "x1", "x2").collect()[0]
    assert r.r2_full_ppm == 1_000_000          # perfect fit
    assert r.phi1_ppm > 900_000
    assert abs((r.phi1_ppm + r.phi2_ppm) - r.r2_full_ppm) <= 2
    assert r.r2_x1_ppm == 1_000_000


def test_shapley_r2_shared_variance_split(spark):
    """x2 = x1 (perfectly collinear): the full design is singular ->
    NULL full/phi surfaces, while each univariate R^2 stands."""
    from eventrelationextractor_spark.ops import quality as q
    rows = [(2 * i + (i % 3), i, i) for i in range(30)]
    df = spark.createDataFrame(rows, "y long, x1 long, x2 long")
    r = q.shapley_r2(df, "y", "x1", "x2").collect()[0]
    assert r.r2_full_ppm is None and r.phi1_ppm is None
    assert r.r2_x1_ppm == r.r2_x2_ppm and r.r2_x1_ppm > 900_000


# ------------------------------------------------- partition pruning


def test_partition_pruning_reaches_the_scan(spark, tmp_path):
    """The bucket filter must become PartitionFilters on the scan —
    2 of 8 directories touched, zero data-file reads outside them."""
    d = spark.range(64).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 8).alias("bucket"))
    path = str(tmp_path / "part")
    d.write.partitionBy("bucket").parquet(path)
    back = spark.read.parquet(path).filter(F.col("bucket").isin(2, 5))
    plan = _physical(back)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert back.count() == 16
