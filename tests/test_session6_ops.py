"""Session-6 operators: edit-distance verify, shingle containment, int8
quantization, co-citation, HITS, host-reputation gating."""

import math

from pyspark.sql import functions as F

from eventrelationextractor_spark.ops import dedup, graph, simsearch, urls


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm stove in the old town")


def test_levenshtein_pairs_finds_suffix_copy(spark):
    df = spark.createDataFrame(
        [(1, BASE), (2, BASE + " extra"), (3, "completely different words "
          "about music and art in the evening city lights")],
        "doc_id long, text string")
    rows = {(r.a, r.b): r.edit_dist
            for r in dedup.levenshtein_pairs(df, max_dist=16).collect()}
    assert rows[(1, 2)] == len(" extra")
    # every reported distance is within the bound and exact
    texts = {1: BASE, 2: BASE + " extra"}
    for (a, b), d in rows.items():
        assert d <= 16
        assert d == _lev(texts[a], texts[b])


def test_levenshtein_pairs_excludes_past_threshold(spark):
    # high shingle overlap (LSH candidate) but > max_dist edits
    far = BASE + " xxxx yyyy zzzz wwww vvvv uuuu"
    df = spark.createDataFrame([(1, BASE), (2, far)],
                               "doc_id long, text string")
    out = dedup.levenshtein_pairs(df, max_dist=5).collect()
    assert out == []


def test_containment_asymmetry_catches_quotes(spark):
    # B wholly quotes A, then continues: containment(A in B) = 1.0
    # while Jaccard sits well below a dedup threshold
    quote = BASE + (" and then the story continues with many further "
                    "sentences about markets and weather and sports "
                    "and travel plans for the long summer ahead")
    df = spark.createDataFrame([(1, BASE), (2, quote)],
                               "doc_id long, text string")
    rows = dedup.containment_pairs(df, threshold=0.8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.a, r.b) == (1, 2)
    assert r.containment_ab == 1.0
    assert r.containment_ba < 0.8
    jac = dedup.jaccard_pairs(df, threshold=0.8).collect()
    assert jac == []  # the symmetric measure misses the quote


def test_quantize_int8_analytic(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in simsearch.quantize_int8(df).collect()}
    r1 = out[1]
    assert r1.amax == 1.0 and r1.n_dims == 4
    # floor(x*127 + 0.5): 127, -63 (-63.5+0.5 -> -63), 32 (31.75+0.5), 0
    assert r1.codes == [127, -63, 32, 0]
    sse = sum((x - c / 127.0) ** 2
              for x, c in zip([1.0, -0.5, 0.25, 0.0], r1.codes))
    assert math.isclose(r1.sse, round(sse, 6), abs_tol=1e-9)
    r2 = out[2]  # zero vector: scale-0 guard
    assert r2.amax == 0.0 and r2.codes == [0, 0] and r2.sse == 0.0


def test_cocitation_counts_and_cap(spark):
    e = spark.createDataFrame(
        [("s1", "a"), ("s1", "b"), ("s1", "c"),
         ("s2", "a"), ("s2", "b"), ("s2", "a"),     # dup edge: one citation
         ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d"),
         ("lone", "a")],                             # degree-1: no pairs
        "src string, dst string")
    out = {(r.a, r.b): r.n_common
           for r in graph.cocitation(e, max_out_degree=3).collect()}
    assert out == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_hits_two_node_analytic(spark):
    e = spark.createDataFrame([("x", "y")], "src string, dst string")
    out = {r.node: (r.hub, r.authority)
           for r in graph.hits(e, n_iter=3).collect()}
    assert out == {"x": (1.0, 0.0), "y": (0.0, 1.0)}


def test_hits_matches_numpy(spark):
    import numpy as np
    edges = [(i, (i * 3 + 1) % 7) for i in range(7)] + [(2, 5), (4, 1)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: (r.hub, r.authority)
           for r in graph.hits(e, n_iter=3).collect()}
    A = np.zeros((7, 7))
    for s, d in edges:
        A[s, d] += 1.0
    h = np.ones(7)
    for _ in range(3):
        a = A.T @ h
        a = a / a.sum() if a.sum() > 0 else a
        h = A @ a
        h = h / h.sum() if h.sum() > 0 else h
    for n in range(7):
        assert math.isclose(out[n][0], h[n], abs_tol=1e-12)
        assert math.isclose(out[n][1], a[n], abs_tol=1e-12)


def test_host_reputation_gate_and_rescue(spark):
    df = spark.createDataFrame(
        [(1, "https://good.example.com/p1", 0.9),
         (2, "https://good.example.com/p2", 0.8),
         (3, "https://bad.example.net/p3", 0.1),
         (4, "https://bad.example.net/p4", 0.95)],
        "doc_id long, url string, quality double")
    kept = urls.host_reputation(df, host_threshold=0.6, doc_threshold=0.9)
    rows = {r.doc_id: r for r in kept.collect()}
    # good host (mean 0.85) passes wholesale; bad host (mean 0.525)
    # fails but doc 4 is rescued by its own score
    assert set(rows) == {1, 2, 4}
    assert rows[1].host_docs == 2 and rows[1].host_quality == 0.85
    assert rows[4].host_quality == 0.525


def test_jl_project_branches_agree_and_match_numpy(spark):
    import numpy as np

    from eventrelationextractor_spark.ops.simsearch import _plane
    vecs = [(i, [((i * 31 + j * 7) % 13 - 6) / 3.0 for j in range(8)])
            for i in range(5)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    expr = {r.vec_id: r.reduced for r in
            simsearch.jl_project(df, k=4, dim=8, arrow=False).collect()}
    arrow = {r.vec_id: r.reduced for r in
             simsearch.jl_project(df, k=4, dim=8, arrow=True).collect()}
    S = np.array([_plane(1000 + j, 8) for j in range(4)])
    for i, v in vecs:
        v32 = np.asarray(v, dtype=np.float32).astype(np.float64)
        want = np.round((S @ v32) / 2.0, 6)           # sqrt(4) = 2
        assert expr[i] == arrow[i] == list(want)


def test_jl_project_preserves_distances_roughly(spark):
    # JL sanity: identical vectors project identically; scaling is linear
    df = spark.createDataFrame(
        [(1, [1.0] * 16), (2, [1.0] * 16), (3, [2.0] * 16)],
        "vec_id long, embedding array<float>")
    out = {r.vec_id: r.reduced for r in
           simsearch.jl_project(df, k=4, dim=16).collect()}
    assert out[1] == out[2]
    assert out[3] == [round(2 * x, 6) for x in out[1]]


def test_url_spam_features_analytic(spark):
    df = spark.createDataFrame(
        [(1, "https://promo77-w1n.free.example.net/p1?utm_source=a&x=1"),
         (2, "https://www.example.com/clean")],
        "doc_id long, url string")
    rows = {r.doc_id: r for r in urls.url_spam_features(df).collect()}
    spam = rows[1]
    assert spam.host == "promo77-w1n.free.example.net"
    assert spam.host_digits == 3          # 7, 7, 1
    assert spam.host_hyphens == 1
    assert spam.n_subdomains == 2
    assert spam.n_params == 2 and spam.n_tracking == 1
    clean = rows[2]
    assert clean.host_digits == 0 and clean.n_tracking == 0
    assert clean.spam_score < spam.spam_score


def test_training_order_deterministic_balanced_resalted(spark):
    from collections import defaultdict

    from eventrelationextractor_spark.ops import mixing
    df = spark.range(0, 256).withColumnRenamed("id", "doc_id")
    a = {(r.doc_id, r.shard, r.pos)
         for r in mixing.training_order(df, n_shards=4).collect()}
    b = {(r.doc_id, r.shard, r.pos)
         for r in mixing.training_order(df, n_shards=4).collect()}
    assert a == b                      # reproducible across runs
    sh = defaultdict(list)
    for _, s, p in a:
        sh[s].append(p)
    assert set(sh) == {0, 1, 2, 3}     # all shards populated
    for ps in sh.values():             # positions are dense 1..k
        assert sorted(ps) == list(range(1, len(ps) + 1))
    c = {(r.doc_id, r.shard, r.pos)
         for r in mixing.training_order(df, n_shards=4,
                                        salt="shuf2").collect()}
    assert c != a                      # per-epoch re-shuffle via salt


def _pq_fixture(spark):
    # 16 vectors over 4 exactly-repeated patterns: Lloyd keeps the
    # codebooks AT the patterns (mean of identical points), so ADC
    # distances are analytic
    def pat(j):
        return [float(j + 1)] * 4 + [float((j + 1) * 10)] * 4
    rows = [(i, pat(i % 4)) for i in range(16)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_encode_groups_identical_subvectors(spark):
    from eventrelationextractor_spark.ops import pq
    emb = _pq_fixture(spark)
    books = pq.pq_train(emb, m=2, k_sub=4, n_iter=1, dim=8)
    codes = {r.vec_id: tuple(r.codes)
             for r in pq.pq_encode(emb, books).collect()}
    for i in range(16):
        assert codes[i] == codes[i % 4]      # same pattern -> same codes
    assert len({codes[j] for j in range(4)}) == 4   # patterns separated


def test_ivfpq_exact_patterns_rank_first_with_zero_adc(spark):
    from eventrelationextractor_spark.ops import pq
    emb = _pq_fixture(spark)
    out = pq.ivfpq_topk(emb, n_queries=2, k=3, coarse_k=2, coarse_iter=1,
                        m=2, k_sub=4, nprobe=2, dim=8)
    rows = [(r.query_id, r.rank, r.neighbor_id, r.adc_dist)
            for r in out.collect()]
    # query 0 (pattern 0): its codeword-exact twins 4, 8, 12 at dist 0,
    # ordered by id; same for query 1 (pattern 1)
    assert rows == [(0, 1, 4, 0.0), (0, 2, 8, 0.0), (0, 3, 12, 0.0),
                    (1, 1, 5, 0.0), (1, 2, 9, 0.0), (1, 3, 13, 0.0)]


def test_ivfpq_recall_perfect_on_pattern_corpus(spark):
    from eventrelationextractor_spark.ops import pq
    emb = _pq_fixture(spark)
    out = {r.query_id: (r.n_hits, r.recall)
           for r in pq.ivfpq_recall(emb, n_queries=2, k=3, coarse_k=2,
                                    coarse_iter=1, m=2, k_sub=4,
                                    nprobe=2, dim=8).collect()}
    # exact L2 top-3 of each query is its zero-distance pattern twins,
    # which the PQ index returns identically
    assert out == {0: (3, 1.0), 1: (3, 1.0)}


def test_window_anomalies_flags_injected_burst(spark):
    from datetime import datetime

    from eventrelationextractor_spark.ops import events as ev_ops
    base = [(datetime(2024, 1, 1, h, 5), "click") for h in range(20)]
    burst = [(datetime(2024, 1, 1, 23, 5), "click")] * 50
    df = spark.createDataFrame(base + burst, "ts timestamp, event_type string")
    out = {r.win_start: r for r in ev_ops.window_anomalies(df).collect()}
    flagged = [r for r in out.values() if r.anomaly]
    assert len(flagged) == 1 and flagged[0].n == 50
    assert all(r.n == 1 for r in out.values() if not r.anomaly)


def test_ntz_epoch_us_is_session_tz_proof(spark):
    """ntz_epoch_us = naive-as-UTC epoch micros under ANY session zone
    (the ltz-cast alternative shifts by the zone offset — the r03/r04
    driver-only hash-red mechanism)."""
    from datetime import datetime

    from eventrelationextractor_spark.ops import events as ev_ops
    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 9, 58, 778549),)], "ts timestamp_ntz")
    want = 1704067798778549
    assert df.select(ev_ops.ntz_epoch_us("ts").alias("us")) \
        .collect()[0].us == want
    old = spark.conf.get("spark.sql.session.timeZone", None)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = df.select(ev_ops.ntz_epoch_us("ts").alias("us")) \
            .collect()[0].us
        shifted = df.select(
            F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("us")
        ).collect()[0].us
    finally:
        if old is None:
            spark.conf.unset("spark.sql.session.timeZone")
        else:
            spark.conf.set("spark.sql.session.timeZone", old)
    assert got == want
    assert shifted == want + 5 * 3600 * 1000000   # the ltz-cast trap


def test_window_anomalies_buckets_are_tz_proof(spark):
    from datetime import datetime

    from eventrelationextractor_spark.ops import events as ev_ops
    rows = [(datetime(2024, 1, 1, h, 5), "click") for h in range(6)]
    df = spark.createDataFrame(rows, "ts timestamp_ntz, event_type string")
    base = sorted(r.win_start for r in
                  ev_ops.window_anomalies(df).collect())
    old = spark.conf.get("spark.sql.session.timeZone", None)
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
    try:
        got = sorted(r.win_start for r in
                     ev_ops.window_anomalies(df).collect())
    finally:
        if old is None:
            spark.conf.unset("spark.sql.session.timeZone")
        else:
            spark.conf.set("spark.sql.session.timeZone", old)
    assert got == base == [1704067200 + 3600 * h for h in range(6)]


def test_personalized_pagerank_mass_and_locality(spark):
    import math as _m
    # chain 0->1->2->3 plus far component 10->11; seed = {0}
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (10, 11)],
                              "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    r = {row.node: row.rank
         for row in graph.personalized_pagerank(e, seeds, n_iter=8).collect()}
    assert _m.isclose(sum(r.values()), 1.0, abs_tol=1e-12)  # mass conserved
    # proximity to the seed orders the chain; the far component gets
    # nothing (unreachable from the seed by walk or teleport)
    assert r[0] > r[1] > r[2] > r[3] > 0
    assert r[10] == 0.0 and r[11] == 0.0


def test_sentence_stats_analytic(spark):
    from eventrelationextractor_spark.ops import textstats
    df = spark.createDataFrame(
        [(1, "One two three. Four five! Six seven eight nine?"),
         (2, "no terminator here at all"),
         (3, "")],
        "doc_id long, text string")
    split = textstats.sentence_split(df).collect()
    assert [(r.doc_id, r.sent_idx, r.sentence) for r in split] == [
        (1, 0, "One two three."), (1, 1, "Four five!"),
        (1, 2, "Six seven eight nine?"),
        (2, 0, "no terminator here at all")]
    out = {r.doc_id: r for r in textstats.sentence_stats(df).collect()}
    assert out[1].n_sentences == 3 and out[1].n_short == 2
    assert out[1].terminal_ratio == 1.0
    assert out[2].n_sentences == 1 and out[2].terminal_ratio == 0.0
    assert out[3].n_sentences == 0 and out[3].mean_sent_words is None


def test_seed_distances_bfs_minimal(spark):
    # diamond + tail: 0->1, 0->2, 1->3, 2->3, 3->4->5; seed {0}
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 5)],
        "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    d = {r.node: r.dist
         for r in graph.seed_distances(e, seeds, max_hops=3).collect()}
    assert d == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}   # 5 is beyond max_hops


def test_random_walks_deterministic_and_edge_following(spark):
    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 7) for i in range(6)]    # node 6 dangling
        + [(i, (i + 2) % 7) for i in range(6)],
        "src long, dst long")
    edges = {(r.src, r.dst) for r in e.collect()}
    a = sorted((r.start, r.step, r.node)
               for r in graph.random_walks(e, walk_len=3).collect())
    b = sorted((r.start, r.step, r.node)
               for r in graph.random_walks(e, walk_len=3).collect())
    assert a == b                                  # reproducible
    byw = {}
    for s, t, n in a:
        byw.setdefault(s, {})[t] = n
    for s, steps in byw.items():
        assert steps[0] == s
        for t in range(1, max(steps) + 1):         # every hop is an edge
            assert (steps[t - 1], steps[t]) in edges
    assert max(byw[6]) == 0                        # dangling: stops at start
    c = sorted((r.start, r.step, r.node) for r in
               graph.random_walks(e, walk_len=3, salt="walk2").collect())
    assert c != a                                  # re-sampleable by salt


def test_ndcg_at_k_analytic(spark):
    import math as _m

    from eventrelationextractor_spark.ops import bm25
    res = spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                                "rank long, doc_id long")
    rel = spark.createDataFrame([(20, 2), (30, 1), (40, 3)],
                                "doc_id long, rel long")
    r = bm25.ndcg_at_k(res, rel, k=3).collect()[0]
    dcg = 0.0 + 3.0 / _m.log2(3) + 1.0 / _m.log2(4)   # unjudged d10 = 0
    idcg = 7.0 / _m.log2(2) + 3.0 / _m.log2(3) + 1.0 / _m.log2(4)
    assert _m.isclose(r.dcg, round(dcg, 6), abs_tol=1e-9)
    assert _m.isclose(r.idcg, round(idcg, 6), abs_tol=1e-9)
    assert _m.isclose(r.ndcg, round(round(dcg, 6) / round(idcg, 6), 6),
                      abs_tol=1e-5)
    # a perfect ranking scores 1.0
    perfect = spark.createDataFrame([(1, 40), (2, 20), (3, 30)],
                                    "rank long, doc_id long")
    assert bm25.ndcg_at_k(perfect, rel, k=3).collect()[0].ndcg == 1.0


def test_badwords_token_exact_not_substring(spark):
    from eventrelationextractor_spark.ops import textstats
    df = spark.createDataFrame(
        [(1, "clean text about scunthorpe classics"),   # substrings only
         (2, "bad bad bad word here"),
         (3, "one bad token in a long enough document to pass the gate "
             "with room to spare " + "filler " * 40)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           textstats.badwords_stats(df, ["bad", "cun"],
                                    max_ratio=0.05).collect()}
    assert out[1].n_bad == 0 and out[1].keep          # no substring match
    assert out[2].n_bad == 3 and not out[2].keep
    assert out[3].n_bad == 1 and out[3].keep          # under the ratio


def test_crawl_delays_parse_and_schedule(spark):
    robots = spark.createDataFrame(
        [("A.example", "User-agent: *\nCrawl-delay: 7\nDisallow: /x\n"),
         ("b.example", "User-agent: *\nDisallow: /\n")],     # no delay
        "host string, robots_txt string")
    d = {r.host: r.crawl_delay
         for r in urls.crawl_delays(robots, default_sec=3).collect()}
    assert d == {"a.example": 7, "b.example": 3}
    frontier = spark.createDataFrame(
        [("https://a.example/1",), ("https://a.example/2",),
         ("https://c.example/1",)], "url string")
    out = {(r.host, r.slot): r.fetch_offset_sec
           for r in urls.frontier_schedule(
               frontier, delay_sec=3,
               delays=urls.crawl_delays(robots, default_sec=3)).collect()}
    # declared delay honored; unknown host falls back to the default
    assert out[("a.example", 1)] == 0 and out[("a.example", 2)] == 7
    assert out[("c.example", 1)] == 0


def test_funnel_strict_ordering_and_stages(spark):
    from datetime import datetime as dt

    from eventrelationextractor_spark.ops import events as ev_ops
    T = lambda m: dt(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # u1 completes in order
        (1, T(1), "view"), (1, T(2), "click"), (1, T(3), "purchase"),
        # u2: purchase BEFORE click -> stage stops at 2
        (2, T(1), "view"), (2, T(3), "click"), (2, T(2), "purchase"),
        # u3: click without view -> stage 0
        (3, T(1), "click"),
        # u4: simultaneous view/click (not strictly after) -> stage 1
        (4, T(1), "view"), (4, T(1), "click"),
    ]
    df = spark.createDataFrame(rows,
                               "user_id long, ts timestamp, event_type string")
    out = {r.user_id: r for r in ev_ops.funnel(df).collect()}
    assert out[1].stage == 3 and out[1].t3 == T(3)
    assert out[2].stage == 2 and out[2].t3 is None
    assert out[3].stage == 0 and out[3].t1 is None
    assert out[4].stage == 1


def test_weighted_sample_k_prefers_heavy_rows(spark):
    from eventrelationextractor_spark.ops import textstats
    # one stratum: 50 rows of weight 0.01 and 5 rows of weight 100 -
    # the heavy rows all but surely occupy the top-5 A-ES keys
    rows = [(i, "s", 0.01) for i in range(50)] + \
           [(100 + i, "s", 100.0) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, src string, w double")
    got = {r.doc_id for r in
           textstats.weighted_sample_k(df, "w", "src", k=5).collect()}
    assert got == {100, 101, 102, 103, 104}
    # deterministic across runs
    again = {r.doc_id for r in
             textstats.weighted_sample_k(df, "w", "src", k=5).collect()}
    assert got == again
    # zero/negative weights are excluded entirely
    z = spark.createDataFrame([(1, "s", 0.0), (2, "s", 1.0)],
                              "doc_id long, src string, w double")
    assert [r.doc_id for r in
            textstats.weighted_sample_k(z, "w", "src", k=5).collect()] == [2]


def test_adamic_adar_analytic(spark):
    import math as _m
    # triangle a-b-c plus z connected to a and b: common neighbor of
    # (a,b) = {c, z}; deg(c)=2, deg(z)=2 -> aa = 2/ln(2)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("z", "a"), ("z", "b")],
        "src string, dst string")
    out = {(r.a, r.b): (r.n_common, r.aa_score)
           for r in graph.adamic_adar(e).collect()}
    n, s = out[("a", "b")]
    assert n == 2 and _m.isclose(s, round(2 / _m.log(2), 6), abs_tol=1e-9)
    # (c, z): common neighbors a and b, each degree 3
    n, s = out[("c", "z")]
    assert n == 2 and _m.isclose(s, round(2 / _m.log(3), 6), abs_tol=1e-9)


def test_char_entropy_analytic(spark):
    import math as _m

    from eventrelationextractor_spark.ops import textstats
    df = spark.createDataFrame(
        [(1, "aaaa"),               # one symbol: entropy 0
         (2, "abab"),               # two equiprobable: 1 bit
         (3, "abcd"),               # four equiprobable: 2 bits
         (4, "")],                  # empty: no rows -> zeros/null
        "doc_id long, text string")
    out = {r.doc_id: r for r in textstats.char_entropy(df).collect()}
    assert out[1].entropy == 0.0 and out[1].n_distinct == 1
    assert _m.isclose(out[2].entropy, 1.0, abs_tol=1e-9)
    assert _m.isclose(out[3].entropy, 2.0, abs_tol=1e-9)
    assert out[4].n_chars == 0 and out[4].entropy is None


def test_cohort_retention_analytic(spark):
    from datetime import datetime as dt

    from eventrelationextractor_spark.ops import events as ev_ops
    D = lambda d: dt(2024, 1, 4 + d)  # noqa: E731  (Jan 4 = bucket start)
    rows = [(1, D(0)), (1, D(7)), (1, D(21)),      # cohort 0: back w1, w3
            (2, D(1)), (2, D(2)),                  # cohort 0: week 0 only
            (3, D(7)), (3, D(14))]                 # cohort 1: back w1
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r.cohort_start, r.period_offset): r.n_users
           for r in ev_ops.cohort_retention(df, days=7).collect()}
    c0 = min(k[0] for k in out)
    c1 = c0 + 7 * 86400
    assert out[(c0, 0)] == 2          # users 1, 2
    assert out[(c0, 1)] == 1          # user 1 returns
    assert out[(c0, 3)] == 1
    assert out[(c1, 0)] == 1 and out[(c1, 1)] == 1
    assert (c0, 2) not in out         # nobody from cohort 0 in week 2


def test_kcore_peel_analytic(spark):
    # 4-clique (3-core) + a tail a-b-c hanging off it + an isolated pair
    e = spark.createDataFrame(
        [("k1", "k2"), ("k1", "k3"), ("k1", "k4"),
         ("k2", "k3"), ("k2", "k4"), ("k3", "k4"),
         ("k4", "a"), ("a", "b"), ("b", "c"),
         ("x", "y")],
        "src string, dst string")
    out = {r.node: r.dropped_round
           for r in graph.kcore_peel(e, k=3, rounds=6).collect()}
    assert {n for n, d in out.items() if d == 0} == {"k1", "k2", "k3", "k4"}
    # synchronous k=3: the whole tail has degree < 3 up front, so it
    # peels in ONE round together
    assert out["a"] == out["b"] == out["c"] == out["x"] == out["y"] == 1
    # k=2 unravels the chain sequentially (and proves the degree-0
    # case: x,y drop round 1, the clique+a..b survive until their turn)
    out2 = {r.node: r.dropped_round
            for r in graph.kcore_peel(e, k=2, rounds=6).collect()}
    assert {n for n, d in out2.items() if d == 0} == {"k1", "k2", "k3", "k4"}
    assert out2["c"] == 1 and out2["x"] == 1 and out2["y"] == 1
    assert out2["b"] == 2 and out2["a"] == 3


def test_neardup_recall_perfect_on_exact_copies(spark):
    # exact copies share identical signatures -> every band collides ->
    # recall 1.0 and (verify being exact) precision 1.0
    docs = [(i, f"{BASE} tail word number {i} plus more words here")
            for i in range(8)]
    copies = [(100 + i, t) for i, t in docs[:4]]
    df = spark.createDataFrame(docs + copies, "doc_id long, text string")
    r = dedup.neardup_recall(df, threshold=0.9).collect()[0]
    assert r.n_exact == 4 and r.n_hits == 4
    assert r.recall == 1.0 and r.precision == 1.0


def test_quantize_int8_error_bound_property(spark):
    """Property (hypothesis): for ANY finite vector, codes stay in
    [-127, 127] and per-element reconstruction error is bounded by half
    a quantization step (0.5 * amax / 127)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    vec = st.lists(st.floats(min_value=-1e3, max_value=1e3,
                             allow_nan=False, width=32),
                   min_size=1, max_size=12)

    @given(vecs=st.lists(vec, min_size=1, max_size=6))
    @settings(max_examples=8, deadline=None)
    def check(vecs):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>")
        import numpy as np
        for r in simsearch.quantize_int8(df).collect():
            v = np.asarray(vecs[r.vec_id], dtype=np.float32)
            assert all(-127 <= c <= 127 for c in r.codes)
            if r.amax == 0:
                assert r.sse == 0.0
                continue
            step = r.amax / 127.0
            recon = np.asarray(r.codes) * step
            assert np.max(np.abs(v - recon)) <= 0.5 * step + 1e-9

    check()


def test_multiprobe_dominates_single_probe(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plain = {(r.query_id, r.rank): r.cosine
             for r in simsearch.hyperplane_lsh_topk(emb, n_queries=6,
                                                    k=3).collect()}
    multi = {(r.query_id, r.rank): r.cosine
             for r in simsearch.hyperplane_multiprobe_topk(
                 emb, n_queries=6, k=3).collect()}
    # probing a superset of buckets can only improve every rank slot
    assert len(multi) >= len(plain)
    for key, c in plain.items():
        assert key in multi and multi[key] >= c
    assert any(multi[k] > plain[k] for k in plain) or len(multi) > len(plain)


def test_hll_registers_merge_exactly(spark):
    from eventrelationextractor_spark.ops import sketches
    df = spark.createDataFrame(
        [(i, f"val{i % 37}") for i in range(200)], "doc_id long, w string")
    a = sketches.hll_registers(df.filter(F.col("doc_id") % 3 == 0), "w")
    b = sketches.hll_registers(df.filter(F.col("doc_id") % 3 != 0), "w")
    merged = {(r.bucket, r.rho) for r in
              a.unionByName(b).groupBy("bucket")
              .agg(F.max("rho").alias("rho")).collect()}
    full = {(r.bucket, r.rho)
            for r in sketches.hll_registers(df, "w").collect()}
    assert merged == full          # register max IS the sketch union


def test_host_profile_argmax_and_ties(spark):
    df = spark.createDataFrame(
        [("h1", "en"), ("h1", "en"), ("h1", "de"),
         ("h2", "fr"), ("h2", "de")],        # tie -> label asc wins
        "host string, predicted_lang string")
    out = {r.host: r for r in urls.host_profile(df).collect()}
    assert out["h1"].dominant_label == "en"
    assert out["h1"].n_docs == 3 and out["h1"].n_labels == 2
    assert out["h1"].dominant_frac == round(2 / 3, 6)
    assert out["h2"].dominant_label == "de"  # tie broken ascending


def test_hashed_doc_vectors_analytic(spark):
    from eventrelationextractor_spark.ops import textstats
    df = spark.createDataFrame([(1, "apple apple banana"),
                                (2, "apple apple banana")],
                               "doc_id long, text string")
    rows = [r for r in textstats.hashed_doc_vectors(df, dim=16).collect()]
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.dim_idx] = r.value
    # identical text -> identical sparse vectors (deterministic hash)
    assert by_doc[1] == by_doc[2]
    # L1 mass: |sum of |values|| <= 1 with equality when no collisions
    # cancel; here 2 distinct words in 16 dims (values 2/3 and 1/3 up
    # to sign)
    assert sorted(abs(v) for v in by_doc[1].values()) in (
        [round(1 / 3, 6), round(2 / 3, 6)],   # no collision
        [round(1 / 3, 6)],                    # collision, opposite signs
        [1.0])                                # collision, same sign


def test_edge_cases_fail_fast_or_degrade_gracefully(spark):
    import pytest

    from eventrelationextractor_spark.ops import bm25, events as ev_ops, pq
    # pq_train: missing deterministic-init ids fails LOUDLY, not wrong
    few = spark.createDataFrame([(0, [1.0] * 8), (1, [2.0] * 8)],
                                "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="deterministic"):
        pq.pq_train(few, m=2, k_sub=4, dim=8)
    # personalized pagerank: empty seed set is a contract error
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    empty_seeds = spark.createDataFrame([], "node long")
    with pytest.raises(ValueError, match="seed"):
        graph.personalized_pagerank(e, empty_seeds)
    # ndcg: zero positive judgments -> idcg 0 -> ndcg 0, no div-by-zero
    res = spark.createDataFrame([(1, 10)], "rank long, doc_id long")
    nojudge = spark.createDataFrame([], "doc_id long, rel long")
    r = bm25.ndcg_at_k(res, nojudge, k=3).collect()[0]
    assert r.idcg == 0.0 and r.ndcg == 0.0
    # empty event streams degrade to empty outputs, not crashes
    noev = spark.createDataFrame([], "user_id long, ts timestamp, "
                                     "event_type string")
    assert ev_ops.cohort_retention(noev).collect() == []
    assert ev_ops.funnel(noev).collect() == []
    # empty corpus: LSH-backed pair ops return empty
    nodocs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.levenshtein_pairs(nodocs).collect() == []
    assert dedup.containment_pairs(nodocs).collect() == []


def test_profile_table_analytic(spark):
    from eventrelationextractor_spark.ops import textstats
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")],
        "id long, v string")
    out = {r.column: r for r in textstats.profile_table(df).collect()}
    assert out["id"].n_rows == 4 and out["id"].n_nulls == 0
    assert out["id"].n_distinct == 4
    assert (out["id"].min_value, out["id"].max_value) == ("1", "4")
    assert out["v"].n_nulls == 1 and out["v"].n_distinct == 2
    assert (out["v"].min_value, out["v"].max_value) == ("a", "b")


def test_graph_stats_analytic(spark):
    # a<->b reciprocal pair, a->c one-way, self-loop dropped, dup edge
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("a", "c"), ("c", "c")],
        "src string, dst string")
    r = graph.graph_stats(e).collect()[0]
    assert r.n_nodes == 3 and r.n_edges == 3
    assert r.n_reciprocal == 2          # both directions of a<->b count
    assert r.reciprocity == round(2 / 3, 6)
    assert r.max_out_degree == 2 and r.avg_out_degree == 1.5


def test_winnowing_pairs_scores_lifted_text(spark):
    lifted = BASE + (" and a long unique continuation about completely "
                     "different subjects like gardening and astronomy "
                     "filling out the rest of this much longer document")
    other = ("unrelated material discussing cooking recipes and travel "
             "itineraries with nothing in common with the base passage "
             "beyond the english language itself here")
    df = spark.createDataFrame([(1, BASE), (2, lifted), (3, other)],
                               "doc_id long, text string")
    rows = {(r.a, r.b): r for r in
            dedup.winnowing_pairs(df, min_shared=3).collect()}
    assert (1, 2) in rows              # the lift is detected
    r = rows[(1, 2)]
    # containment-style: the SHORT doc's fingerprints are mostly covered
    assert r.overlap > 0.8
    assert (1, 3) not in rows and (2, 3) not in rows


def test_embedding_class_stats_analytic(spark):
    from eventrelationextractor_spark.ops import cluster
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [1.0, 0.0], 0),      # tight class
         (3, [0.0, 1.0], 1), (4, [0.0, -1.0], 1)],    # self-canceling
        "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in cluster.class_stats(df).collect()}
    assert out[0].n == 2 and out[0].centroid_norm == 1.0
    assert out[0].mean_cos == 1.0
    assert out[1].centroid_norm == 0.0 and out[1].mean_cos == 0.0


def test_sitemap_seeds_parse(spark):
    robots = spark.createDataFrame(
        [("A.example",
          "User-agent: *\nSitemap: https://a.example/s1.xml\n"
          "Disallow: /x\nSitemap: https://a.example/s2.xml\n"),
         ("b.example", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string")
    out = {(r.host, r.sitemap_url)
           for r in urls.sitemap_seeds(robots).collect()}
    assert out == {("a.example", "https://a.example/s1.xml"),
                   ("a.example", "https://a.example/s2.xml")}


def test_personalized_pagerank_ignores_phantom_seeds(spark):
    """A seed absent from the graph must not leak teleport mass
    (ADVICE r3): ranks with the phantom seed equal ranks without it,
    and mass sums to 1."""
    import math as _m
    e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    real = spark.createDataFrame([(0,)], "node long")
    phantom = spark.createDataFrame([(0,), (999,)], "node long")
    r1 = {r.node: r.rank
          for r in graph.personalized_pagerank(e, real, n_iter=6).collect()}
    r2 = {r.node: r.rank
          for r in graph.personalized_pagerank(e, phantom,
                                               n_iter=6).collect()}
    assert r1 == r2
    assert _m.isclose(sum(r2.values()), 1.0, abs_tol=1e-12)
    import pytest
    only_phantom = spark.createDataFrame([(999,)], "node long")
    with pytest.raises(ValueError):
        graph.personalized_pagerank(e, only_phantom, n_iter=2)


def test_ndcg_dedups_duplicate_judgments(spark):
    """Duplicate judgment rows must not fan out the DCG join or occupy
    two ideal ranks (ADVICE r3): max(rel) per doc wins."""
    from eventrelationextractor_spark.ops import bm25
    res = spark.createDataFrame([(1, 10), (2, 20)], "rank long, doc_id long")
    dup = spark.createDataFrame([(10, 3), (10, 1), (20, 2)],
                                "doc_id long, rel long")
    uniq = spark.createDataFrame([(10, 3), (20, 2)],
                                 "doc_id long, rel long")
    got_dup = bm25.ndcg_at_k(res, dup, k=2).collect()[0]
    got_uniq = bm25.ndcg_at_k(res, uniq, k=2).collect()[0]
    assert (got_dup.dcg, got_dup.idcg, got_dup.ndcg) \
        == (got_uniq.dcg, got_uniq.idcg, got_uniq.ndcg)


def test_brute_force_topk_zero_norm_ranks_last(spark):
    """Degenerate zero-norm vectors produce NaN cosine, and NaN sorts
    ABOVE every real value in Spark's descending order - the nanvl(-1)
    guard must pin them below all real neighbors (ADVICE r3)."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0]),
         (3, [-1.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = [(r.rank, r.neighbor_id, r.cosine)
           for r in simsearch.brute_force_topk(df, n_queries=1, k=4)
           .collect()]
    # query = vec 0 (self excluded); zero-norm vec 2 pins to -1.0 (tied
    # with the true opposite vec 3, id tie-break) instead of throwing
    # under ANSI or floating to the top as NaN
    assert [n for _, n, _ in out] == [1, 2, 3]
    assert out[1][2] == -1.0 and out[2][2] == -1.0
    assert out[0][2] > 0.9


def test_robots_gate_full_group_selection_and_precedence(spark):
    """RFC 9309 semantics: specific-agent group beats *, consecutive UA
    lines share a group, longest-match precedence, allow wins ties,
    empty rule values ignored, ungoverned hosts allowed."""
    robots = spark.createDataFrame(
        [("a.ex", "User-agent: mybot\nDisallow: /x/\nAllow: /x/y/\n"
                  "\nUser-agent: *\nDisallow: /\n"),
         ("b.ex", "User-agent: *\nDisallow: /t\nAllow: /t\nDisallow:\n"),
         ("c.ex", "User-agent: other\nUser-agent: mybot\n"
                  "Disallow: /q\n"),
         ("d.ex", "User-agent: other\nDisallow: /\n")],
        "host string, robots_txt string")
    frontier = spark.createDataFrame(
        [("https://a.ex/x/1",), ("https://a.ex/x/y/1",),
         ("https://a.ex/ok",), ("https://b.ex/t9",),
         ("https://c.ex/q1",), ("https://c.ex/r",),
         ("https://d.ex/anything",), ("https://e.ex/norobots",)],
        "url string")
    out = {r.url: r.allowed
           for r in urls.robots_gate_full(frontier, robots,
                                          agent="mybot").collect()}
    assert out == {
        "https://a.ex/x/1": False,      # specific group Disallow /x/
        "https://a.ex/x/y/1": True,     # longer Allow overrides
        "https://a.ex/ok": True,        # star group's Disallow / IGNORED
        "https://b.ex/t9": True,        # equal-length tie -> allow
        "https://c.ex/q1": False,       # consecutive-UA group governs
        "https://c.ex/r": True,
        "https://d.ex/anything": True,  # no governing group
        "https://e.ex/norobots": True,  # no robots.txt
    }


def test_weighted_seed_distances_prefers_cheap_long_path(spark):
    # 0->3 direct costs 10; 0->1->2->3 costs 3 but needs 3 hops
    e = spark.createDataFrame(
        [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1)],
        "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")

    def run(h):
        return {r.node: r.dist for r in graph.weighted_seed_distances(
            e, seeds, max_hops=h).collect()}

    # within 2 hops the direct edge wins; at 3 the cheap path takes over
    assert run(2) == {0: 0, 1: 1, 2: 2, 3: 10}
    assert run(3) == {0: 0, 1: 1, 2: 2, 3: 3}


def test_weighted_seed_distances_multi_seed_min_merge(spark):
    e = spark.createDataFrame([(0, 2, 5), (1, 2, 2), (2, 3, 1)],
                              "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,), (1,)], "node long")
    d = {r.node: r.dist for r in graph.weighted_seed_distances(
        e, seeds, max_hops=4).collect()}
    assert d == {0: 0, 1: 0, 2: 2, 3: 3}


# -------------------------------------------- prefix-filter exact join


def _pf_corpus(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [
        (0, base),
        (1, base + " extra"),                 # near-dup of 0
        (2, "totally different words here with no overlap at all ok"),
        (3, base),                            # exact dup of 0
        (4, "alpha beta gamma " + "x y z w v u t s r q"),  # low overlap
    ]
    return spark.createDataFrame(texts, "doc_id long, text string")


def test_prefix_filter_matches_bruteforce(spark):
    from eventrelationextractor_spark.ops import dedup
    docs = _pf_corpus(spark)
    got = {(r.a, r.b): r.jaccard
           for r in dedup.prefix_filter_pairs(docs, t_ppm=500_000)
           .collect()}
    brute = {(r.a, r.b): r.jaccard
             for r in dedup.exact_jaccard_pairs(docs, threshold=0.5)
             .collect()}
    assert got.keys() == brute.keys() and got == brute
    assert (0, 3) in got and got[(0, 3)] == 1.0


def test_prefix_filter_counts_and_threshold(spark):
    from eventrelationextractor_spark.ops import dedup
    docs = _pf_corpus(spark)
    rows = {(r.a, r.b): (r.n_inter, r.n_union)
            for r in dedup.prefix_filter_pairs(docs, t_ppm=800_000)
            .collect()}
    # doc0: 8 shingles; doc1 adds one word -> 9 shingles, inter 8,
    # union 9 -> 8/9 = .888889 >= .8; doc4 shares only 1 shingle
    assert rows[(0, 3)] == (8, 8)
    assert rows[(0, 1)] == (8, 9)
    assert (0, 4) not in rows and (0, 2) not in rows


def test_prefix_filter_size_gate_prunes(spark):
    from eventrelationextractor_spark.ops import dedup
    # sizes 3 vs 10: min/max = .3 < .8 -> no candidate survives even
    # though they share their rarest shingle
    docs = spark.createDataFrame(
        [(0, "p q r s t"), (1, "p q r s t u v w x y z a b")],
        "doc_id long, text string")
    assert dedup.prefix_filter_pairs(docs, t_ppm=800_000).count() == 0


def test_clustering_coefficients_triangle_plus_tail(spark):
    # triangle 0-1-2 plus pendant 2-3: cc(0)=cc(1)=1e6; node 2 has
    # deg 3, 1 triangle -> 2*1e6/6 = 333333; node 3 deg 1 -> 0
    e = spark.createDataFrame([(0, 1), (1, 2), (0, 2), (2, 3)],
                              "src long, dst long")
    got = {r.node: (r.degree, r.n_triangles, r.cc_ppm)
           for r in graph.clustering_coefficients(e).collect()}
    assert got[0] == (2, 1, 1_000_000)
    assert got[1] == (2, 1, 1_000_000)
    assert got[2] == (3, 1, 333_333)
    assert got[3] == (1, 0, 0)


def test_novelty_scores_tiers(spark):
    from eventrelationextractor_spark.ops import dedup
    ref = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"),      # exact -> 0
         (11, "alpha beta gamma delta epsilon zeta"), # 1 new of 4
         (12, "totally fresh words appearing here"),  # all new
         (13, "xy")],                                 # too short
        "doc_id long, text string")
    got = {r.doc_id: (r.n_shingles, r.n_novel, r.novelty_ppm)
           for r in dedup.novelty_scores(new, ref).collect()}
    assert got[10] == (3, 0, 0)
    assert got[11] == (4, 1, 250_000)
    assert got[12] == (3, 3, 1_000_000)
    assert got[13] == (0, 0, None)


def test_waterfill_budget_level_and_caps(spark):
    from eventrelationextractor_spark.ops import urls as u
    caps = spark.createDataFrame(
        [("a", 2), ("b", 5), ("c", 100), ("d", 100)],
        "host string, cap long")
    got = {r.host: r.quota
           for r in u.waterfill_budget(caps, 30).collect()}
    # a,b fully funded (7); remaining 23 over c,d -> 11 and 12 (the
    # later row in (cap, host) order takes the remainder)
    assert got == {"a": 2, "b": 5, "c": 11, "d": 12}
    assert sum(got.values()) == 30


def test_waterfill_budget_exceeds_caps(spark):
    from eventrelationextractor_spark.ops import urls as u
    caps = spark.createDataFrame([("a", 3), ("b", 4)],
                                 "host string, cap long")
    got = {r.host: r.quota
           for r in u.waterfill_budget(caps, 100).collect()}
    assert got == {"a": 3, "b": 4}


def test_waterfill_budget_tiny_budget(spark):
    from eventrelationextractor_spark.ops import urls as u
    caps = spark.createDataFrame([("a", 50), ("b", 50), ("c", 50)],
                                 "host string, cap long")
    got = {r.host: r.quota
           for r in u.waterfill_budget(caps, 4).collect()}
    assert sum(got.values()) == 4
    assert sorted(got.values()) == [1, 1, 2]


def test_mutual_nn_pairs_planted_mutual_and_chain(spark):
    from eventrelationextractor_spark.ops import simsearch
    # 64-dim: two tight planted pairs on distinct axes plus a chain
    # vector whose NN (v0) prefers its twin -> chain must NOT emit
    def vec(axis, eps_axis=None, eps=0.0):
        v = [0.0] * 64
        v[axis] = 1.0
        if eps_axis is not None:
            v[eps_axis] = eps
        return v
    rows = [(0, vec(0)), (1, vec(0, 1, 0.05)),        # mutual pair
            (2, vec(7)), (3, vec(7, 8, 0.02)),        # mutual pair
            (4, vec(0, 2, 0.40))]                     # chain: NN is 0/1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r.id_a, r.id_b): r.cosine
           for r in simsearch.mutual_nn_pairs(df, n_planes=4).collect()}
    assert (0, 1) in out and (2, 3) in out
    assert all(a < b for a, b in out)
    assert (0, 4) not in out and (1, 4) not in out
