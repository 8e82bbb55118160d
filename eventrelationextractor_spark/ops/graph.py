"""Link-graph operators for web corpora: PageRank.

The reference pipeline builds a knowledge graph from page text; a crawl
pipeline at 100 TB also needs the *link* graph between the pages
themselves — PageRank (and its cousins) is the standard per-page prior
for crawl scheduling, quality weighting, and sampling corpus mixes
(e.g. "sample high-rank pages at a higher temperature"). There is no
counterpart in /root/reference (it consumes pre-annotated TXP documents,
no hyperlinks); this is a north-star addition like spark/kg.py's
connected components, and it follows the same loop discipline
(one localCheckpoint per iteration, nothing else — see the CC round-loop
lesson in spark/kg.py:80-95).

Scale design (100 TB / 10^10 edges):
* The edge list is the big table; it is joined once with the out-degree
  table (self-join groupBy, one shuffle) and checkpointed, so each
  iteration re-reads a materialized (src, dst, inv_deg) table instead of
  re-running upstream extraction.
* Each iteration is exactly two shuffles — ranks ⋈ edges on src, then
  groupBy dst — which is the transpose-multiply PageRank *is*; no
  driver-side state beyond the scalar node count.
* Dangling mass (pages with no out-links — PDFs, images, crawl-frontier
  leaves; a third of a real web graph) is redistributed uniformly each
  iteration. It is computed as a 1-row aggregate and attached with a
  broadcast cross join, NOT collected to the driver, so one iteration is
  one job only when the caller forces it (we run a fixed iteration count
  and never collect inside the loop).
* Ranks are doubles summed in partition order; the result is
  deterministic up to float addition order (~1e-15 per iteration), far
  below the 1e-6 the correctness gate rounds to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank(edges: DataFrame, n_iter: int = 5, damping: float = 0.85,
             nodes: DataFrame | None = None,
             src: str = "src", dst: str = "dst",
             checkpoint_interval: int = 4) -> DataFrame:
    """edges(src, dst) -> (node, rank) after ``n_iter`` synchronous
    power iterations with uniform teleport and uniform dangling-mass
    redistribution; ranks sum to 1 every iteration.

    ``nodes`` (optional, one column ``node``) fixes the vertex universe;
    default = distinct endpoints of ``edges``. Duplicate edges are kept
    (a page linking twice contributes twice — matches the multigraph
    convention and the SQL oracle).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if nodes is None:
        nodes = (e.select(F.col("src").alias("node"))
                 .unionByName(e.select(F.col("dst").alias("node")))
                 .distinct())
    nodes = nodes.select("node").localCheckpoint()
    n = nodes.count()  # scalar; one job, inherent to the formula
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    contrib_edges = (e.join(deg, "src")
                     .select("src", "dst",
                             (F.lit(1.0) / F.col("deg")).alias("inv_deg"))
                     .localCheckpoint())

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    teleport = (1.0 - damping) / n
    # Fixed iteration count and no mid-loop driver decisions, so the
    # whole loop is ONE lazy plan: ranks are consumed exactly once per
    # iteration (the contribs join), and the dangling mass is derived
    # from the contribs aggregate itself (dm = 1 - emitted mass, since
    # ranks always sum to 1) — the aggregate feeds both the re-join and
    # the broadcast scalar through the SAME Exchange, which ReuseExchange
    # dedupes (the CC-loop lesson, spark/kg.py). No per-round EAGER
    # localCheckpoint: an in-session A/B at sf0.1 measured 13.6s for the
    # eager-checkpoint variant (one materialization job per round) vs
    # ~2s warm for this single-plan form. A LAZY checkpoint every
    # ``checkpoint_interval`` rounds truncates the logical plan at build
    # time without adding jobs — Catalyst analysis cost grows superlinearly
    # with nesting depth (10 unbounded rounds cost minutes of pure
    # planning on a toy graph), so unbounded depth is NOT an option.
    for it in range(n_iter):
        contribs = (ranks.join(contrib_edges, ranks.node == contrib_edges.src)
                    .groupBy("dst")
                    .agg(F.sum(F.col("rank") * F.col("inv_deg")).alias("m")))
        dangling = contribs.agg(
            (F.lit(1.0) - F.coalesce(F.sum("m"), F.lit(0.0))).alias("dm"))
        ranks = (nodes
                 .join(contribs, nodes.node == contribs.dst, "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("node",
                         (F.lit(teleport)
                          + F.lit(damping) * (F.coalesce("m", F.lit(0.0))
                                              + F.col("dm") / n))
                         .alias("rank")))
        if (it + 1) % checkpoint_interval == 0 and it + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank")

def triangle_counts(edges: DataFrame, nodes: DataFrame | None = None,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over the undirected simplification of
    ``edges`` -> (node, n_triangles). Triangles (local clustering) are
    the standard link-spam / community signal on a web graph, next to
    PageRank; no counterpart in /root/reference (no hyperlinks there).

    Scale design (10^10 edges): the naive wedge join explodes on hub
    nodes (sum of deg^2). This is the degree-ordered *node-iterator*
    algorithm: orient every undirected edge from the (degree, node)-
    smaller endpoint to the larger, so each node's OUT-degree is
    bounded by O(sqrt(2m)) regardless of its true degree, and each
    triangle is generated exactly once from its smallest corner. Total
    wedge volume is then O(m^1.5) worst-case (arboricity-bounded in
    practice) instead of sum-of-hub-degrees-squared. Three equi-joins,
    all shuffle-partitioned on their keys (u, then (v1, v2)); AQE
    handles residual skew; no driver loop, no collect.

    Self-loops are dropped and parallel edges collapsed before
    counting; ``nodes`` (one column ``node``) fixes the output universe
    (zero-filled), default = distinct endpoints.
    """
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .filter(F.col("s") != F.col("d"))
         .select(F.least("s", "d").alias("a"),
                 F.greatest("s", "d").alias("b"))
         .distinct())
    tris = _oriented_triangles(e)
    counts = (tris.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
              .groupBy("node").agg(F.count(F.lit(1)).alias("c")))
    if nodes is None:
        nodes = (e.select(F.col("a").alias("node"))
                 .unionByName(e.select(F.col("b").alias("node")))
                 .distinct())
    return (nodes.join(counts, "node", "left")
            .select("node", F.coalesce("c", F.lit(0)).cast("long")
                    .alias("n_triangles")))


def _oriented_triangles(e: DataFrame) -> DataFrame:
    """Enumerate each triangle of the canonical undirected edge set
    ``e`` (columns a < b, distinct, loop-free) exactly once ->
    (u, v1, v2), an unordered node triple. Degree-ordered node-
    iterator: wedges open only from the (degree, id)-smallest corner,
    bounding wedge volume at O(m^1.5) independent of hub degrees (see
    ``triangle_counts`` docstring)."""
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("dg")))
    da = deg.select(F.col("node").alias("a"), F.col("dg").alias("dga"))
    db = deg.select(F.col("node").alias("b"), F.col("dg").alias("dgb"))
    a_first = (F.col("dga") < F.col("dgb")) | (
        (F.col("dga") == F.col("dgb")) & (F.col("a") < F.col("b")))
    oriented = (e.join(da, "a").join(db, "b")
                .select(F.when(a_first, F.col("a"))
                        .otherwise(F.col("b")).alias("u"),
                        F.when(a_first, F.col("b"))
                        .otherwise(F.col("a")).alias("v"),
                        F.when(a_first, F.col("dgb"))
                        .otherwise(F.col("dga")).alias("dv")))
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2, (F.col("e1.u") == F.col("e2.u"))
        & ((F.col("e1.dv") < F.col("e2.dv"))
           | ((F.col("e1.dv") == F.col("e2.dv"))
              & (F.col("e1.v") < F.col("e2.v"))))) \
        .select(F.col("e1.u").alias("u"), F.col("e1.v").alias("v1"),
                F.col("e2.v").alias("v2"))
    closer = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    return wedges.join(closer, ["v1", "v2"])


def ktruss_peel(edges: DataFrame, k: int = 4, rounds: int = 3,
                src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded k-truss peeling (Cohen 2008) over the undirected
    simplification -> (a, b, support, dropped_round) per canonical
    edge: ``rounds`` synchronous rounds of "drop every edge in fewer
    than k-2 triangles of the surviving subgraph". dropped_round = 0
    for survivors (the >= k-truss approximation, exact once a round
    drops nothing); ``support`` is the edge's triangle count in the
    surviving subgraph at drop time (final round for survivors). The
    truss is the EDGE-density sharpening of ``kcore_peel``: a link
    ring survives the core by volume alone, but only genuinely
    clustered neighborhoods keep per-edge triangle support.

    Scale shape: each round re-enumerates triangles with the degree-
    ordered ``_oriented_triangles`` wedge join (O(m^1.5) bound,
    hub-proof), explodes each triangle into its three canonical edges,
    and partial-aggs support - two shuffles per round, no driver
    decisions, fixed round budget keeps it ONE lazy plan. The oracle
    replays identical rounds as chained CTEs (id-ordered triangle
    enumeration there - same triangle SET, so identical support)."""
    if rounds < 1:
        raise ValueError("ktruss_peel needs rounds >= 1")
    live = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
            .filter(F.col("s") != F.col("d"))
            .select(F.least("s", "d").alias("a"),
                    F.greatest("s", "d").alias("b"))
            .distinct().localCheckpoint(eager=False))
    dropped = None
    for r in range(1, rounds + 1):
        tris = _oriented_triangles(live)
        tedges = tris.select(F.explode(F.array(
            F.struct(F.least("u", "v1").alias("a"),
                     F.greatest("u", "v1").alias("b")),
            F.struct(F.least("u", "v2").alias("a"),
                     F.greatest("u", "v2").alias("b")),
            F.struct(F.least("v1", "v2").alias("a"),
                     F.greatest("v1", "v2").alias("b")))).alias("ed")) \
            .select("ed.a", "ed.b")
        supp = tedges.groupBy("a", "b").agg(
            F.count(F.lit(1)).cast("long").alias("support"))
        scored = (live.join(supp, ["a", "b"], "left")
                  .select("a", "b", F.coalesce("support", F.lit(0))
                          .cast("long").alias("support"))
                  .localCheckpoint(eager=False))
        weak = scored.filter(F.col("support") < k - 2) \
            .withColumn("dropped_round", F.lit(r).cast("long"))
        dropped = weak if dropped is None else dropped.unionByName(weak)
        live = scored.filter(F.col("support") >= k - 2).select("a", "b") \
            .localCheckpoint(eager=False)
        last_scored = scored
    survivors = last_scored.filter(F.col("support") >= k - 2) \
        .withColumn("dropped_round", F.lit(0).cast("long"))
    return survivors.unionByName(dropped)

def anchor_rollup(links: DataFrame, k: int = 3, src_col: str = "src",
                  dst_col: str = "dst",
                  anchor_col: str = "anchor") -> DataFrame:
    """Inlink anchor-text aggregation -> per target page: inlink count,
    distinct-source count, and the top-``k`` anchor terms (count desc,
    term asc) joined into one string. Anchor text is the classic
    off-page relevance/entity signal (it names a page in OTHER pages'
    words); every web-scale KG and search stack materializes this table.

    Scale design: anchor aggregation is THE skew workload - a popular
    page collects billions of inlinks. (1) term counting groups on
    (dst, term), spreading a hub's rows across its term vocabulary and
    partially aggregating map-side; (2) the per-target head uses
    grouped_topk's WindowGroupLimit, so the rank exchange carries
    O(k * targets); (3) inlink/distinct-src counts are one partial-agg
    groupBy (Spark expands count(distinct) into a two-level partial
    aggregate). No collect_list over raw inlinks anywhere - the only
    collect_list is over <= k ranked rows per target.
    """
    from .textstats import grouped_topk

    l = links.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"),
                     F.col(anchor_col).alias("anchor"))
    terms = (l.select("dst", F.explode(
        F.split(F.lower(F.col("anchor")), r"\s+")).alias("term"))
        .filter(F.col("term") != ""))
    tc = terms.groupBy("dst", "term").agg(F.count(F.lit(1)).alias("c"))
    top = grouped_topk(tc, "dst", "c", k=k, tie_col="term")
    top_terms = top.groupBy("dst").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(
                F.struct("rank", "term"))), lambda s: s["term"]), " ")
        .alias("top_terms"))
    stats = l.groupBy("dst").agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.countDistinct("src").alias("n_srcs"))
    return stats.join(top_terms, "dst")


def label_propagation(edges: DataFrame, n_iter: int = 3,
                      nodes: DataFrame | None = None,
                      src: str = "src", dst: str = "dst",
                      checkpoint_interval: int = 4) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) ->
    (node, label): community detection over the link graph - the
    host/content-farm clustering primitive next to connected components
    (CC merges anything touching; LPA splits a connected graph into
    densely-linked regions).

    Deterministic contract (engine-replayable, no RNG, no async
    update order): every node starts labeled with its own id; each
    iteration every node simultaneously adopts the most frequent label
    among its neighbors on the SYMMETRIZED edge list PLUS one vote for
    its own current label (the self-preference variant - without it,
    synchronous updates 2-cycle forever on bipartite structures like a
    single edge), ties broken to the smallest label; isolated nodes
    keep their label; fixed ``n_iter``. Duplicate edges vote multiply
    (multigraph convention, like pagerank).

    Scale shape per iteration: labels join edges on node (shuffle on
    the join key), one partial-agged groupBy(node, label) vote count,
    then the argmax as groupBy(node) of max(struct(votes, -label)) -
    an aggregation, NOT a row_number window, so hot hub nodes partial-
    aggregate map-side instead of pinning one task. Same lazy
    plan-truncation cadence as pagerank (localCheckpoint(eager=False)
    every ``checkpoint_interval`` rounds)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"))) \
        .localCheckpoint(eager=False)
    if nodes is None:
        nodes = sym.select(F.col("src").alias("node")).distinct()
    nodes = nodes.select("node").localCheckpoint()

    labels = nodes.withColumn("label", F.col("node"))
    for it in range(n_iter):
        ballots = (labels.join(sym, labels.node == sym.src)
                   .select(F.col("dst").alias("v"), "label")
                   .unionByName(                       # the self vote
                       labels.select(F.col("node").alias("v"), "label")))
        votes = ballots.groupBy("v", "label").agg(
            F.count(F.lit(1)).alias("c"))
        best = (votes.groupBy("v")
                .agg(F.max(F.struct(F.col("c"),
                                    (-F.col("label")).alias("nl")))
                     .alias("b")))
        labels = (nodes.join(best, nodes.node == best.v, "left")
                  .select("node",
                          F.coalesce(-F.col("b.nl"), F.col("node"))
                          .alias("label")))
        if (it + 1) % checkpoint_interval == 0 and it + 1 < n_iter:
            labels = labels.localCheckpoint(eager=False)
    return labels.select("node", "label")


def cocitation(edges: DataFrame, src: str = "src", dst: str = "dst",
               max_out_degree: int = 100) -> DataFrame:
    """Co-citation counts: (a, b, n_common) = how many source pages cite
    BOTH a and b (a < b). The classic link-similarity signal (Small 1973;
    the SimRank/related-pages primitive on a web graph): pages frequently
    cited together are topically related even with zero shared text.
    Duplicate (src, dst) edges collapse first (a page citing twice is
    one citation), mirroring the SQL oracle.

    Scale design: the naive self-join on src explodes as sum(deg_out^2)
    - one hub page with 10^5 out-links yields 5*10^9 pairs. Sources with
    out-degree above ``max_out_degree`` are dropped BEFORE any pair is
    formed (the same cheap count-aggregation gate as
    ``dedup.capped_bucket_pairs``: link-farm hubs carry no co-citation
    signal, standard practice). Surviving sources build a sorted,
    bounded out-link list and explode their (a < b) combinations -
    per-source work is capped at max_out_degree^2/2 - then one
    partial-agged groupBy(a, b) count. No counterpart in
    /root/reference (no hyperlink surface there). (Shared pair-explode
    core: ops/graph_compose.py::doc_pair_counts, also the engine of
    dedup.winnowing_pairs.)"""
    from .graph_compose import doc_pair_counts
    return doc_pair_counts(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
        key_col="src", id_col="dst", max_df=max_out_degree)


def hits(edges: DataFrame, n_iter: int = 3,
         nodes: DataFrame | None = None,
         src: str = "src", dst: str = "dst",
         checkpoint_interval: int = 4) -> DataFrame:
    """HITS (Kleinberg 1999): (node, hub, authority) after ``n_iter``
    synchronous iterations with L1 normalization. Authorities are pages
    pointed at by good hubs; hubs point at good authorities - the
    directional complement to PageRank on a crawl graph (PageRank finds
    endorsement mass, HITS separates directories from content pages).

    Each iteration: authority = L1-normalized in-edge sum of hub scores,
    then hub = L1-normalized out-edge sum of the NEW authority scores
    (the standard alternating update). L1 (sum) normalization instead of
    the textbook L2 keeps every expression a sum/divide - exactly
    reproducible by the SQL oracle's chained CTEs with only addition-
    order float drift (~1e-15, far under the gate's 1e-6 rounding).
    Duplicate edges contribute multiply (multigraph convention, like
    ``pagerank``).

    Scale shape per iteration: two (join on node-key -> partial-agged
    groupBy) passes - identical to one pagerank iteration each - plus a
    scalar normalization aggregate that reuses the groupBy Exchange
    (ReuseExchange dedupes the feed, the CC-loop lesson). Fixed
    iteration count, no mid-loop driver decisions: the whole loop is ONE
    lazy plan with the same ``localCheckpoint(eager=False)`` truncation
    cadence as ``pagerank``. No counterpart in /root/reference."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if nodes is None:
        nodes = (e.select(F.col("src").alias("node"))
                 .unionByName(e.select(F.col("dst").alias("node")))
                 .distinct())
    nodes = nodes.select("node").localCheckpoint()
    e = e.localCheckpoint(eager=False)

    def _push(scores: DataFrame, col: str, key: str, out: str) -> DataFrame:
        """Sum `col` over edges keyed on `key` (src->dst or dst->src),
        L1-normalize, left-join back to the node universe as `out`."""
        other = "dst" if key == "src" else "src"
        raw = (scores.join(e, scores.node == e[key])
               .groupBy(other).agg(F.sum(col).alias("m")))
        tot = raw.agg(F.coalesce(F.sum("m"), F.lit(0.0)).alias("tm"))
        return (nodes.join(raw, nodes.node == raw[other], "left")
                .crossJoin(F.broadcast(tot))
                .select("node",
                        F.when(F.col("tm") > 0,
                               F.coalesce("m", F.lit(0.0)) / F.col("tm"))
                        .otherwise(F.lit(0.0)).alias(out)))

    hub = nodes.withColumn("hub", F.lit(1.0))
    auth = None
    for it in range(n_iter):
        auth = _push(hub, "hub", "src", "authority")
        hub = _push(auth, "authority", "dst", "hub")
        if (it + 1) % checkpoint_interval == 0 and it + 1 < n_iter:
            hub = hub.localCheckpoint(eager=False)
            auth = auth.localCheckpoint(eager=False)
    return (hub.join(auth, "node")
            .select("node", "hub", "authority"))


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          n_iter: int = 5, damping: float = 0.85,
                          nodes: DataFrame | None = None,
                          src: str = "src", dst: str = "dst",
                          checkpoint_interval: int = 4) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6 / Haveliwala 2002):
    teleport AND dangling mass return to the ``seeds`` set (one column
    ``node``) instead of uniformly - the related-pages / topic-expansion
    / trust-propagation primitive (seed a few known-good hosts, rank
    measures random-walk proximity to them; TrustRank is exactly this
    with spam-free seeds). Ranks sum to 1 every iteration.

    Same single-lazy-plan loop shape as ``pagerank`` (two shuffles per
    iteration, ReuseExchange-deduped dangling aggregate, lazy
    plan-truncation checkpoints); the seed indicator is one extra
    node-keyed left join materialized ONCE up front. r0 = the teleport
    distribution itself (mass starts at the seeds, the standard PPR
    init)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if nodes is None:
        nodes = (e.select(F.col("src").alias("node"))
                 .unionByName(e.select(F.col("dst").alias("node")))
                 .distinct())
    nodes = nodes.select("node").localCheckpoint()
    # Intersect seeds with the node universe BEFORE sizing the teleport
    # vector: a seed absent from the graph would otherwise keep its 1/ns
    # share of teleport mass while the left join silently drops it, and
    # ranks would no longer sum to 1.
    sd = seeds.select("node").distinct().join(nodes, "node")
    ns = sd.count()
    if ns == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set"
                         " that intersects the graph's node universe")
    svec = (nodes.join(sd.withColumn("s0", F.lit(1.0 / ns)), "node", "left")
            .select("node", F.coalesce("s0", F.lit(0.0)).alias("s"))
            .localCheckpoint())

    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    contrib_edges = (e.join(deg, "src")
                     .select("src", "dst",
                             (F.lit(1.0) / F.col("deg")).alias("inv_deg"))
                     .localCheckpoint())

    ranks = svec.select("node", F.col("s").alias("rank"))
    for it in range(n_iter):
        contribs = (ranks.join(contrib_edges,
                               ranks.node == contrib_edges.src)
                    .groupBy("dst")
                    .agg(F.sum(F.col("rank") * F.col("inv_deg")).alias("m")))
        dangling = contribs.agg(
            (F.lit(1.0) - F.coalesce(F.sum("m"), F.lit(0.0))).alias("dm"))
        ranks = (svec
                 .join(contribs, svec.node == contribs.dst, "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("node",
                         ((1.0 - damping) * F.col("s")
                          + damping * (F.coalesce("m", F.lit(0.0))
                                       + F.col("dm") * F.col("s")))
                         .alias("rank")))
        if (it + 1) % checkpoint_interval == 0 and it + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "rank")


def seed_distances(edges: DataFrame, seeds: DataFrame,
                   max_hops: int = 4, src: str = "src", dst: str = "dst",
                   checkpoint_interval: int = 2) -> DataFrame:
    """BFS hop distance from a seed set -> (node, dist), nodes beyond
    ``max_hops`` omitted. THE crawl-depth / trust-distance metric: how
    many link hops separate a page from the seed list (crawl schedulers
    cap depth; TrustRank-style filters threshold on it).

    Synchronous frontier expansion: per hop ONE equi-join (frontier x
    edges on the source key) + one anti-join against the settled set -
    each hop's cost is proportional to the frontier, not the graph, and
    the settled set only grows (no recomputation; a node is emitted at
    its FIRST hop, which is minimal by BFS order). Fixed hop bound and
    no driver-side data decisions, so the loop is one lazy plan with
    the usual truncation checkpoints."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    frontier = seeds.select("node").distinct().localCheckpoint()
    dist = frontier.withColumn("dist", F.lit(0).cast("long"))
    for h in range(1, max_hops + 1):
        nxt = (frontier.join(e, frontier.node == e.s)
               .select(F.col("d").alias("node")).distinct()
               .join(dist.select("node"), "node", "left_anti"))
        dist = dist.unionByName(
            nxt.withColumn("dist", F.lit(h).cast("long")))
        frontier = nxt
        if h % checkpoint_interval == 0 and h < max_hops:
            frontier = frontier.localCheckpoint(eager=False)
            dist = dist.localCheckpoint(eager=False)
    return dist


def simrank_pairs(edges: DataFrame, n_iter: int = 3,
                  c_num: int = 4, c_den: int = 5,
                  min_ppm: int = 1000, src: str = "src",
                  dst: str = "dst") -> DataFrame:
    """Sparse SimRank (Jeh-Widom 2002): 'two pages are similar if
    similar pages link to them' - the structural-similarity score for
    related-page discovery and link-spam clustering. Fixed ``n_iter``
    iterations of s(a,b) = C/(|I(a)||I(b)|) * sum s(i,j) over
    in-neighbor pairs, C = c_num/c_den (default 0.8), diagonal pinned
    at 1.

    -> (a, b, score_ppm), a < b canonical. EXACT-INTEGER iteration:
    scores live as ppm and each round computes
    ``(c_num * 1e6-scaled sum) div (c_den * inA * inB)`` - integer
    floor-division both engines, so the fixed point of the hash gate
    cannot drift on float merge order (integer-cents discipline; the
    floor loses < 1 ppm/round, identically on both sides).

    Scale shape: the naive algorithm is O(n^2 d^2); this one stays
    SPARSE - each round is two keyed equi-joins (in-edges x current
    scores x in-edges) + one partial-agg groupBy, and pairs below
    ``min_ppm`` are pruned each round (the standard threshold-SimRank
    cutoff) so the frontier tracks genuinely-similar pairs instead of
    materializing the pair matrix. Duplicate edges collapse first:
    in-neighbor SETS, per Jeh-Widom."""
    e = edges.select(F.col(dst).alias("node"),
                     F.col(src).alias("inn")).distinct()
    indeg = e.groupBy("node").agg(F.count("*").alias("deg"))
    scores = None  # sparse off-diagonal scores, a < b, ppm
    for _ in range(int(n_iter)):
        if scores is None:
            sym = None
        else:
            sym = scores.unionByName(
                scores.select(F.col("b").alias("a"), F.col("a").alias("b"),
                              "score_ppm"))
        ea = e.select(F.col("node").alias("a"), F.col("inn").alias("i"))
        eb = e.select(F.col("node").alias("b"), F.col("inn").alias("j"))
        # in-neighbor pair (i, j): diagonal i == j contributes 1e6;
        # off-diagonal contributes the previous round's sparse score
        diag = (ea.join(eb.withColumnRenamed("j", "i"), "i")
                .filter(F.col("a") < F.col("b"))
                .groupBy("a", "b")
                .agg((F.count("*") * F.lit(1000000)).alias("s")))
        if sym is not None:
            off = (ea.join(sym.withColumnRenamed("a", "i")
                           .withColumnRenamed("b", "j"), "i")
                   .join(eb, "j")
                   .filter(F.col("a") < F.col("b"))
                   .groupBy("a", "b")
                   .agg(F.sum("score_ppm").alias("s")))
            total = diag.unionByName(off).groupBy("a", "b") \
                .agg(F.sum("s").alias("s"))
        else:
            total = diag
        scores = (total
                  .join(indeg.select(F.col("node").alias("a"),
                                     F.col("deg").alias("da")), "a")
                  .join(indeg.select(F.col("node").alias("b"),
                                     F.col("deg").alias("db")), "b")
                  .select("a", "b", F.expr(
                      f"({int(c_num)} * s) div ({int(c_den)} * da * db)")
                      .alias("score_ppm"))
                  .filter(F.col("score_ppm") >= int(min_ppm))
                  .localCheckpoint(eager=False))
    return scores


def katz_centrality(edges: DataFrame, nodes: DataFrame | None = None,
                    n_iter: int = 3, atten_den: int = 8,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Katz centrality (Katz 1953 - path-count authority where a node
    is central if MANY walks of ANY length reach it, each damped by
    beta^length): fixed ``n_iter`` iterations of
    k(v) <- 1 + beta * sum over in-edges (u, v) of k(u), beta =
    1/atten_den. Unlike PageRank there is no out-degree division, so
    hubs transmit full weight along every edge - the centrality of
    choice when a page linking 1000 places should endorse each fully.

    -> (node, katz_ppm): EXACT-INTEGER ppm recursion
    ``1_000_000 + (sum katz_ppm of in-neighbors) div atten_den`` -
    multiplicity kept (parallel edges count twice: walk counting),
    floor-div identical on both engines, merge-order-proof because the
    sum is integer.

    Scale shape: per iteration ONE keyed equi-join (ranks x edges on
    the source) + one partial-agg groupBy on dst + a left join back to
    the node universe - the PageRank loop's geometry without the
    dangling-mass term. Fixed iteration count, one lazy plan with
    truncation checkpoints."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if nodes is None:
        nodes = e.select(F.col("s").alias("node")).unionByName(
            e.select(F.col("d").alias("node"))).distinct()
    nodes = nodes.select("node").localCheckpoint(eager=False)
    k = nodes.withColumn("katz_ppm", F.lit(1000000).cast("long"))
    for it in range(int(n_iter)):
        inc = (k.join(e, k.node == e.s)
               .groupBy(F.col("d").alias("node"))
               .agg(F.sum("katz_ppm").alias("m")))
        k = (nodes.join(inc, "node", "left")
             .select("node",
                     (F.lit(1000000)
                      + F.expr(f"coalesce(m, 0L) div {int(atten_den)}"))
                     .cast("long").alias("katz_ppm")))
        if it % 2 == 1 and it < n_iter - 1:
            k = k.localCheckpoint(eager=False)
    return k


def scc_pivot(edges: DataFrame, max_hops: int = 8, src: str = "src",
              dst: str = "dst") -> DataFrame:
    """One round of the FW-BW distributed SCC algorithm (Fleischer-
    Hendrickson-Pinar; the building block Spark SCC implementations
    iterate): pick the minimum node id as pivot, compute its forward
    (reachable) and backward (co-reachable) sets within ``max_hops``,
    and intersect - FW ∩ BW IS the pivot's strongly connected
    component, and FW\\BW / BW\\FW / neither are the three recursion
    partitions that cannot share an SCC with it.

    -> (node, fw, bw, in_scc) for every node in either set. The hop
    budget bounds the loop the way every traversal here does
    (seed_distances, hyperball): at web scale the budget IS the
    semantic - an SCC stretched over more than ``max_hops`` link hops
    is beyond any crawl-frontier horizon this pipeline schedules.

    Scale shape: two frontier BFS sweeps (forward on src->dst,
    backward on the transposed edges) - per hop one equi-join + one
    anti-join, frontier-proportional; the intersect is a full-outer
    join of two node sets. Nothing here is quadratic in the graph."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    # pivot = min node WITH out-edges: a dangling pivot's forward set
    # is itself, degenerating the round; FW-BW picks pivots from the
    # live frontier for exactly this reason
    pivot = e.agg(F.min("s").alias("node"))

    def _reach(ed):
        frontier = pivot.localCheckpoint()
        seen = frontier
        for h in range(1, max_hops + 1):
            nxt = (frontier.join(ed, frontier.node == ed.s)
                   .select(F.col("d").alias("node")).distinct()
                   .join(seen, "node", "left_anti"))
            seen = seen.unionByName(nxt)
            frontier = nxt
            if h % 2 == 0 and h < max_hops:
                frontier = frontier.localCheckpoint(eager=False)
                seen = seen.localCheckpoint(eager=False)
        return seen

    fw = _reach(e).withColumn("fw", F.lit(True))
    bw = _reach(e.select(F.col("d").alias("s"), F.col("s").alias("d"))) \
        .withColumn("bw", F.lit(True))
    return (fw.join(bw, "node", "full_outer")
            .select("node",
                    F.coalesce("fw", F.lit(False)).alias("fw"),
                    F.coalesce("bw", F.lit(False)).alias("bw"),
                    (F.coalesce("fw", F.lit(False))
                     & F.coalesce("bw", F.lit(False))).alias("in_scc")))


def harmonic_from_seeds(edges: DataFrame, seeds: DataFrame,
                        max_hops: int = 4, src: str = "src",
                        dst: str = "dst") -> DataFrame:
    """Seed-sampled harmonic centrality (Boldi-Vigna 2014, the
    centrality that stays finite on disconnected graphs): for each
    REACHED node v, sum over seeds s of 1/d(s, v) - approximated from
    a k-seed BFS sample exactly the way production centrality runs do
    (full all-pairs distances are quadratic; a seed sample is the
    standard estimator, cf. HyperBall which this repo also ships).

    -> (node, n_seeds_reaching, harmonic_ppm): harmonic_ppm is the
    EXACT integer sum of (1_000_000 div d) per reaching seed at d>=1
    (seeds themselves contribute nothing at d=0, matching the
    convention that excludes the self term) - integer-cents
    discipline for a graph metric, so the cross-engine hash cannot
    drift on float summation order.

    Scale shape: one BFS per seed via a seed-tagged frontier (the
    settled set keys on (seed, node)), i.e. |seeds| simultaneous BFS
    sharing each hop's single equi-join - hop cost proportional to the
    union frontier. The final reduce is one partial-agg groupBy."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    frontier = seeds.select(F.col("node").alias("seed"),
                            F.col("node")).distinct().localCheckpoint()
    dist = frontier.withColumn("dist", F.lit(0).cast("long"))
    for h in range(1, max_hops + 1):
        nxt = (frontier.join(e, frontier.node == e.s)
               .select("seed", F.col("d").alias("node")).distinct()
               .join(dist.select("seed", "node"), ["seed", "node"],
                     "left_anti"))
        dist = dist.unionByName(
            nxt.withColumn("dist", F.lit(h).cast("long")))
        frontier = nxt
        if h % 2 == 0 and h < max_hops:
            frontier = frontier.localCheckpoint(eager=False)
            dist = dist.localCheckpoint(eager=False)
    return (dist.filter(F.col("dist") >= 1)
            .groupBy("node")
            .agg(F.count("*").alias("n_seeds_reaching"),
                 F.sum(F.expr("1000000 div dist")).alias("harmonic_ppm")))


def landmark_bounds(edges: DataFrame, landmarks: DataFrame,
                    pairs: DataFrame, max_hops: int = 4,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """ALT landmark distance estimation (Goldberg-Harrelson 2005):
    precompute hop distances from a small landmark set, then answer
    pairwise distance queries in O(|landmarks|) WITHOUT touching the
    graph - lower bound max|d(L,u) - d(L,v)|, upper bound
    min(d(L,u) + d(L,v)) by the triangle inequality. The navigation
    oracle a crawl scheduler consults millions of times per plan;
    edges are treated as undirected (symmetrized) so the bounds hold
    both ways.

    -> (u, v, n_landmarks, lower, upper) for pairs where at least one
    landmark reaches BOTH endpoints within ``max_hops`` (bounds from a
    one-sided landmark are not valid and are excluded). All exact
    integers.

    Scale shape: the graph is touched ONCE (the seed-tagged
    simultaneous BFS of harmonic_from_seeds); each query pair is then
    two keyed equi-joins against the (landmark, node) distance table
    + one partial-agg groupBy - query cost independent of graph
    size."""
    und = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")) \
        .unionByName(edges.select(F.col(dst).alias("src"),
                                  F.col(src).alias("dst")))
    e = und.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    frontier = landmarks.select(F.col("node").alias("seed"),
                                F.col("node")).distinct().localCheckpoint()
    dist = frontier.withColumn("dist", F.lit(0).cast("long"))
    for h in range(1, max_hops + 1):
        nxt = (frontier.join(e, frontier.node == e.s)
               .select("seed", F.col("d").alias("node")).distinct()
               .join(dist.select("seed", "node"), ["seed", "node"],
                     "left_anti"))
        dist = dist.unionByName(
            nxt.withColumn("dist", F.lit(h).cast("long")))
        frontier = nxt
        if h % 2 == 0 and h < max_hops:
            frontier = frontier.localCheckpoint(eager=False)
            dist = dist.localCheckpoint(eager=False)
    du = dist.select("seed", F.col("node").alias("u"),
                     F.col("dist").alias("d_u"))
    dv = dist.select("seed", F.col("node").alias("v"),
                     F.col("dist").alias("d_v"))
    return (pairs.select("u", "v")
            .join(du, "u").join(dv, ["seed", "v"])
            .groupBy("u", "v")
            .agg(F.count("*").alias("n_landmarks"),
                 F.max(F.abs(F.col("d_u") - F.col("d_v"))).alias("lower"),
                 F.min(F.col("d_u") + F.col("d_v")).alias("upper")))


def random_walks(edges: DataFrame, nodes: DataFrame | None = None,
                 walk_len: int = 4, salt: str = "walk1",
                 max_out_degree: int = 100,
                 src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic hash-seeded random walks (the DeepWalk / node2vec
    sampling stage, Perozzi et al. 2014): one walk per start node ->
    (start, step, node), step 0 = the start itself; a walk stops early
    at a dangling node. Step t picks neighbor
    ``adj[md5(salt:start:t) % degree]`` - a pure function of
    (salt, start, t), so corpora of walks are reproducible across
    runs/engines and re-sampleable by salt, exactly like
    ``stratified_sample`` fates.

    Scale shape: adjacency lists build once (duplicate edges collapse;
    sorted, truncated at ``max_out_degree`` - walk transition fidelity
    on super-hubs is already approximate in practice); each step is one
    equi-join against the adjacency table keyed on the current node
    plus a codegen element_at pick. walk_len joins total, one lazy
    plan."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    adj = (e.groupBy("s")
           .agg(F.slice(F.sort_array(F.collect_list("d")), 1,
                        max_out_degree).alias("ns"))
           .localCheckpoint(eager=False))
    if nodes is None:
        nodes = (e.select(F.col("s").alias("node"))
                 .unionByName(e.select(F.col("d").alias("node")))
                 .distinct())
    cur = nodes.select(F.col("node").alias("start"),
                       F.col("node").alias("node"))
    out = cur.withColumn("step", F.lit(0).cast("long"))
    for t in range(1, walk_len + 1):
        idx = (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"),
                           F.col("start").cast("string"),
                           F.lit(f":{t}"))), 1, 8), 16, 10)
            .cast("long") % F.size("ns")).cast("int")
        cur = (cur.join(adj, cur.node == adj.s)
               .select("start",
                       F.element_at("ns", idx + 1).alias("node")))
        out = out.unionByName(
            cur.withColumn("step", F.lit(t).cast("long")))
    return out.select("start", "step", "node")


def adamic_adar(edges: DataFrame, src: str = "src", dst: str = "dst",
                max_degree: int = 100) -> DataFrame:
    """Adamic-Adar link prediction scores (Adamic & Adar 2003) over the
    undirected simplification: for every pair (a < b) sharing at least
    one neighbor, ``aa_score = sum over common neighbors z of
    1/ln(deg(z))`` plus the raw common-neighbor count. THE standard
    missing-link / KG-completion ranking feature: common neighbors
    weighted down by how promiscuous they are (a hub connecting
    everyone predicts nothing).

    Same skew discipline as ``cocitation``: neighbors-of-z pair
    enumeration is deg(z)^2, so nodes with degree above ``max_degree``
    are dropped BEFORE any pair forms (count gate ahead of the
    collect) - standard AA practice too, since 1/ln(deg) makes hub
    contributions the smallest signal at the largest cost. Weight uses
    the node's degree within the kept set (= its true degree, as kept
    nodes are uncapped)."""
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = (e0.unionByName(e0.select(F.col("d").alias("s"),
                                    F.col("s").alias("d")))
           .filter(F.col("s") != F.col("d")).distinct())
    deg = (sym.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
           .filter((F.col("dg") >= 2) & (F.col("dg") <= max_degree)))
    survivors = sym.join(deg, "s")
    groups = (survivors.groupBy("s", "dg")
              .agg(F.sort_array(F.collect_list("d")).alias("ns")))
    pairs = groups.select(
        (1.0 / F.log(F.col("dg").cast("double"))).alias("w"),
        F.explode(F.expr(
            "flatten(transform(ns, (x, i) -> "
            "transform(slice(ns, i + 2, size(ns)), "
            "y -> struct(x as a, y as b))))")).alias("p")) \
        .select("p.a", "p.b", "w")
    return (pairs.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_common"),
                 F.round(F.sum("w"), 6).alias("aa_score")))


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 8,
               src: str = "src", dst: str = "dst",
               checkpoint_interval: int = 2) -> DataFrame:
    """Bounded k-core peeling over the undirected simplification:
    ``rounds`` synchronous rounds of "drop every node with degree < k
    in the surviving subgraph" -> (node, dropped_round), where
    dropped_round = 0 for survivors (the >= k-core approximation) and
    r >= 1 for nodes peeled in round r. The density-mining primitive:
    link farms and citation rings live in high cores while organic
    pages peel early; dropped_round is itself a coreness-ordering
    signal.

    Synchronous peeling converges to the EXACT k-core once a round
    drops nothing; with a fixed ``rounds`` budget the result is the
    standard bounded approximation (supersets the true core), keeping
    the whole loop ONE lazy plan with no data-dependent driver
    decisions - same discipline as pagerank/LPA. Each round is one
    partial-agged degree count + one semi-join filter of the edge set;
    the oracle unrolls identical rounds as chained CTEs."""
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = (e0.unionByName(e0.select(F.col("d").alias("s"),
                                    F.col("s").alias("d")))
           .filter(F.col("s") != F.col("d")).distinct()
           .localCheckpoint(eager=False))
    nodes = sym.select(F.col("s").alias("node")).distinct() \
        .localCheckpoint()
    dropped = nodes.withColumn("dropped_round", F.lit(0).cast("long")) \
        .filter(F.lit(False))                 # empty accumulator
    alive, live = nodes, sym
    for r in range(1, rounds + 1):
        # strong = alive nodes whose LIVE degree >= k; the anti-join
        # catches degree-0 nodes too (all neighbors already peeled -
        # they appear in no live edge, hence in no degree row)
        strong = (live.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
                  .filter(F.col("dg") >= k)
                  .select(F.col("s").alias("node")))
        weak = alive.join(strong, "node", "left_anti")
        dropped = dropped.unionByName(
            weak.withColumn("dropped_round", F.lit(r).cast("long")))
        alive = strong
        live = (live.join(alive.select(F.col("node").alias("s")), "s")
                .join(alive.select(F.col("node").alias("d")), "d"))
        if r % checkpoint_interval == 0 and r < rounds:
            live = live.localCheckpoint(eager=False)
            alive = alive.localCheckpoint(eager=False)
            dropped = dropped.localCheckpoint(eager=False)
    return alive.withColumn("dropped_round", F.lit(0).cast("long")) \
        .unionByName(dropped)


def graph_stats(edges: DataFrame, src: str = "src",
                dst: str = "dst") -> DataFrame:
    """One-row structural telemetry: (n_nodes, n_edges, n_reciprocal,
    reciprocity, max_out_degree, avg_out_degree) over the distinct
    directed simple graph (self-loops dropped). Reciprocity - the
    fraction of directed edges whose reverse also exists - is the
    classic crawl-graph health number: organic webs are mostly
    one-directional, link-exchange farms reciprocate heavily.

    One distinct pass, one self-join on the reversed key for the
    reciprocal count (equi-join, never a matrix op), one degree
    aggregation; all scalars cross-joined from their own aggregates."""
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .filter(F.col("s") != F.col("d")).distinct()
         .localCheckpoint(eager=False))
    nodes = (e.select(F.col("s").alias("n"))
             .unionByName(e.select(F.col("d").alias("n")))
             .distinct().agg(F.count(F.lit(1)).alias("n_nodes")))
    m = e.agg(F.count(F.lit(1)).alias("n_edges"))
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    recip = e.join(rev, ["s", "d"]).agg(
        F.count(F.lit(1)).alias("n_reciprocal"))
    deg = (e.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
           .agg(F.max("dg").alias("max_out_degree"),
                F.round(F.avg("dg"), 6).alias("avg_out_degree")))
    return (nodes.crossJoin(m).crossJoin(recip).crossJoin(deg)
            .select("n_nodes", "n_edges", "n_reciprocal",
                    F.round(F.col("n_reciprocal")
                            / F.col("n_edges"), 6).alias("reciprocity"),
                    "max_out_degree", "avg_out_degree"))


def modularity(edges: DataFrame, labels: DataFrame,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Newman modularity of a community assignment, per community -
    the quality number for :func:`label_propagation` output (is this
    partition denser-than-chance, and which communities carry it?).

    Q = sum_c [ e_c/m - (d_c/2m)^2 ]; this emits the per-community
    contribution as the EXACT INTEGER numerator over the common
    denominator 4m^2:  q_num_c = 4*m*e_c - d_c^2  (so the global
    modularity is sum(q_num)/4m^2, and a float never enters an
    aggregation - cross-engine exact by construction, the integer-cents
    discipline applied to a graph metric).

    Three partial-agged aggregations, all keyed small: degrees (node
    cardinality), within-community edge counts and degree sums
    (community cardinality), one broadcast single-row m.

    Returns (label, n_nodes, d_tot, e_in, m, q_num)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    both = e.unionByName(e.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
    deg = both.groupBy("a").agg(F.count("*").alias("deg"))
    lab = labels.select(F.col(labels.columns[0]).alias("a"),
                        F.col(labels.columns[1]).alias("label"))
    per_c = (deg.join(lab, "a")
             .groupBy("label")
             .agg(F.count("*").alias("n_nodes"),
                  F.sum("deg").alias("d_tot")))
    ls = lab.select(F.col("a"), F.col("label").alias("l_src"))
    ld = lab.select(F.col("a").alias("b"), F.col("label").alias("l_dst"))
    e_in = (e.join(ls, "a").join(ld, "b")
            .filter(F.col("l_src") == F.col("l_dst"))
            .groupBy(F.col("l_src").alias("label"))
            .agg(F.count("*").alias("e_in")))
    m = e.agg(F.count("*").alias("m"))
    return (per_c.join(e_in, "label", "left")
            .crossJoin(F.broadcast(m))
            .select("label", "n_nodes", "d_tot",
                    F.coalesce("e_in", F.lit(0)).alias("e_in"), "m",
                    (4 * F.col("m") * F.coalesce("e_in", F.lit(0))
                     - F.col("d_tot") * F.col("d_tot")).alias("q_num")))


def seeded_label_propagation(edges: DataFrame, seeds: DataFrame,
                             n_iter: int = 3,
                             nodes: DataFrame | None = None,
                             src: str = "src", dst: str = "dst",
                             node_col: str = "node",
                             label_col: str = "label",
                             checkpoint_interval: int = 4) -> DataFrame:
    """Semi-supervised label spread (Zhu & Ghahramani 2002, hard-clamp
    variant) -> (node, label, is_seed): seed nodes carry known labels
    that NEVER change; unlabeled nodes adopt, each synchronous round,
    the most frequent label among their currently-labeled neighbors
    (ties -> smallest label; no labeled neighbor -> keep the current
    label, possibly NULL). Fixed ``n_iter`` - deterministic and
    engine-replayable, like label_propagation (the unseeded community
    variant above), but spreading EXTERNAL labels (language, topic,
    spam verdicts) over the link graph instead of discovering
    communities.

    Labels are opaque strings, so the per-node argmax cannot ride the
    max(struct(c, -label)) trick: it is a max-count aggregation, a
    semi-join back on (node, count), then min(label) - two partial-
    agged shuffles on the same key per round (the second reuses the
    first's partitioning), still never a per-node row_number window
    over the ballot stream."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"))) \
        .localCheckpoint(eager=False)
    if nodes is None:
        nodes = sym.select(F.col("src").alias("node")).distinct()
    sd = seeds.select(F.col(node_col).alias("node"),
                      F.col(label_col).cast("string").alias("seed_label"))
    base = (nodes.select("node").join(sd, "node", "left")
            .select("node", "seed_label",
                    F.col("seed_label").isNotNull().alias("is_seed"))
            .localCheckpoint())

    labels = base.select("node", F.col("seed_label").alias("label"))
    for it in range(n_iter):
        ballots = (labels.filter(F.col("label").isNotNull())
                   .join(sym, labels.node == sym.src)
                   .select(F.col("dst").alias("v"), "label"))
        votes = ballots.groupBy("v", "label").agg(
            F.count(F.lit(1)).alias("c"))
        # rename the aggregated side before the self-lineage join:
        # votes.v and mx's v are the SAME attribute reference, and an
        # equi-join on them silently resolves to a trivially-true
        # self-comparison (the cogroup-shared-lineage lesson, join
        # flavor)
        mx = (votes.groupBy("v").agg(F.max("c").alias("mc"))
              .select(F.col("v").alias("mv"), "mc"))
        best = (votes.join(mx, (votes.v == F.col("mv"))
                           & (votes.c == F.col("mc")))
                .groupBy(votes.v.alias("bv"))
                .agg(F.min("label").alias("blabel")))
        labels = (base.join(best, base.node == F.col("bv"), "left")
                  .join(labels.select(F.col("node").alias("pn"),
                                      F.col("label").alias("plabel")),
                        base.node == F.col("pn"), "left")
                  .select("node",
                          F.when(F.col("is_seed"), F.col("seed_label"))
                          .otherwise(F.coalesce("blabel", "plabel"))
                          .alias("label")))
        if (it + 1) % checkpoint_interval == 0 and it + 1 < n_iter:
            labels = labels.localCheckpoint(eager=False)
    return (base.select("node", "is_seed")
            .join(labels, "node")
            .select("node", "label", "is_seed"))


def jaccard_links(edges: DataFrame, src: str = "src", dst: str = "dst",
                  max_degree: int = 100) -> DataFrame:
    """Neighborhood-Jaccard link scores over the undirected
    simplification -> (a, b, n_common, deg_a, deg_b, jaccard_ppm,
    is_edge) for every pair a < b sharing at least one sufficiently-
    quiet common neighbor: jaccard_ppm = 1e6*|N(a) ∩ N(b)| div
    |N(a) ∪ N(b)| — exact integers end to end (the set-overlap
    counterpart of ``adamic_adar``'s log-weighted score; is_edge
    splits the ranking into link prediction over non-edges vs link
    CONFIRMATION strength over existing ones).

    Same skew discipline as ``adamic_adar``/``cocitation``: pair
    enumeration through a common neighbor z is deg(z)^2, so z above
    ``max_degree`` is dropped before any pair forms (pairs reachable
    only through hubs are not scored — the standard cap semantics);
    deg_a/deg_b are TRUE degrees in the full simplification, so the
    union denominator is uncapped."""
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = (e0.unionByName(e0.select(F.col("d").alias("s"),
                                    F.col("s").alias("d")))
           .filter(F.col("s") != F.col("d")).distinct())
    full_deg = sym.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("dg"))
    quiet = full_deg.filter((F.col("dg") >= 2)
                            & (F.col("dg") <= max_degree))
    groups = (sym.join(quiet.select("s"), "s")
              .groupBy("s")
              .agg(F.sort_array(F.collect_list("d")).alias("ns")))
    pairs = groups.select(F.explode(F.expr(
        "flatten(transform(ns, (x, i) -> "
        "transform(slice(ns, i + 2, size(ns)), "
        "y -> struct(x as a, y as b))))")).alias("p")) \
        .select("p.a", "p.b")
    common = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"))
    da = full_deg.select(F.col("s").alias("a"), F.col("dg").alias("deg_a"))
    db = full_deg.select(F.col("s").alias("b"), F.col("dg").alias("deg_b"))
    canon = sym.filter(F.col("s") < F.col("d")) \
        .select(F.col("s").alias("a"), F.col("d").alias("b"),
                F.lit(True).alias("edge_flag"))
    return (common.join(da, "a").join(db, "b")
            .join(canon, ["a", "b"], "left")
            .select("a", "b", "n_common", "deg_a", "deg_b",
                    F.expr("(1000000 * n_common) div "
                           "(deg_a + deg_b - n_common)")
                    .alias("jaccard_ppm"),
                    F.coalesce("edge_flag", F.lit(False)).alias("is_edge")))


def degree_assortativity(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Newman degree assortativity (Newman 2002) of the undirected
    simplification -> ONE row (m2, sx, sxy, sx2, r): the Pearson
    correlation of endpoint degrees over the symmetric edge list (each
    undirected edge contributes both orientations, making the x/y
    marginals identical — so only one set of moment sums is needed).
    Social graphs run positive (hubs befriend hubs); web/link and
    citation graphs run negative (hubs point at leaves) — a one-row
    fingerprint of whether a crawl frontier is drilling into hub
    cores or fanning out.

        r = (m2*sxy - sx^2) / (m2*sx2 - sx^2)

    with m2 = |sym edges|, sx = Σ deg(s), sxy = Σ deg(s)*deg(d),
    sx2 = Σ deg(s)^2 — all EXACT integers (one agg row); r is the
    only float (6dp, per-row on one row; NULL for the degenerate
    regular graph where the variance term is 0).

    Scale shape: one degree groupBy, two keyed equi-joins to attach
    endpoint degrees, one partial-agged global agg — no window, no
    driver arithmetic beyond the final row."""
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = (e0.unionByName(e0.select(F.col("d").alias("s"),
                                    F.col("s").alias("d")))
           .filter(F.col("s") != F.col("d")).distinct())
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("dg"))
    scored = (sym.join(deg, "s")
              .join(deg.select(F.col("s").alias("d"),
                               F.col("dg").alias("dg_d")), "d"))
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("m2"),
        F.sum("dg").cast("long").alias("sx"),
        F.sum(F.col("dg") * F.col("dg_d")).cast("long").alias("sxy"),
        F.sum(F.col("dg") * F.col("dg")).cast("long").alias("sx2"))
    return agg.select(
        "m2", "sx", "sxy", "sx2",
        F.when(F.col("m2") * F.col("sx2") - F.col("sx") * F.col("sx") > 0,
               F.round((F.col("m2") * F.col("sxy")
                        - F.col("sx") * F.col("sx")).cast("double")
                       / (F.col("m2") * F.col("sx2")
                          - F.col("sx") * F.col("sx")).cast("double"), 6))
        .alias("r"))


#: alpha_m bias constants (Flajolet et al. 2007) for the small per-node
#: register counts HyperBall uses; >= 128 uses the closed form.
_HB_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def hyperball(edges: DataFrame, rounds: int = 3, m_b: int = 4,
              src: str = "src", dst: str = "dst") -> DataFrame:
    """HyperBall (Boldi & Vigna 2013) neighborhood-size estimation ->
    (node, est_ball, register_checksum): per node, an HLL estimate of
    |ball(node, rounds)| over the undirected simplification — THE
    web-graph centrality/spam primitive (tiny balls = isolated cliques
    and link farms; huge balls = genuine hubs), computable where exact
    k-hop neighborhoods explode combinatorially.

    Each node carries its own m = 2^m_b-register HLL (m small — 16 by
    default — is the whole point: sketch state per node is constant).
    Registers init from md5(node) (the engine-replayable construction
    of ``ops/sketches.py``: bucket = low bits, rho = exact leading-
    zero count via binary-string length, no float anywhere in state)
    and each round max-merges every node's registers with its
    neighbors' — register max IS sketch union, so after r rounds node
    v's sketch holds exactly the set {u : d(u, v) <= r}. The estimate
    is the standard biased-corrected HLL with linear counting, the
    only float, computed per-row at the end and rounded 4dp;
    register_checksum pins the full integer state under the hash gate.

    Scale shape: per round ONE keyed equi-join (edges x registers,
    fanout = deg * registers-held, bounded by deg * m) and one
    partial-agged groupBy(node, bucket) max — the pointer-jumping/CC
    shuffle discipline, lazily checkpointed per round so the plan
    stays linear in rounds. The oracle replays identical rounds as
    chained CTEs."""
    m = 1 << m_b
    alpha = _HB_ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))
    width = 60 - m_b
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    sym = (e0.unionByName(e0.select(F.col("d").alias("s"),
                                    F.col("s").alias("d")))
           .filter(F.col("s") != F.col("d")).distinct()
           .localCheckpoint(eager=False))
    nodes = (sym.select(F.col("s").alias("node")).distinct())
    h = F.conv(F.substring(F.md5(F.col("node").cast("string")), 1, 15),
               16, 10).cast("long")
    rest = F.shiftright(h, m_b)
    rho = F.when(rest == 0, F.lit(width + 1)) \
        .otherwise(F.lit(width) - F.length(F.bin(rest)) + 1)
    regs = nodes.select("node", (h % m).alias("bucket"),
                        rho.cast("long").alias("rho")) \
        .localCheckpoint(eager=False)
    for _ in range(rounds):
        from_nb = (sym.join(regs.withColumnRenamed("node", "s"), "s")
                   .select(F.col("d").alias("node"), "bucket", "rho"))
        regs = (regs.unionByName(from_nb)
                .groupBy("node", "bucket")
                .agg(F.max("rho").cast("long").alias("rho"))
                .localCheckpoint(eager=False))
    agg = regs.groupBy("node").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("z"),
        F.count(F.lit(1)).alias("nonzero"),
        F.sum("rho").cast("long").alias("register_checksum"))
    mf = float(m)
    raw = F.lit(alpha * mf * mf) / (F.col("z") + (mf - F.col("nonzero")))
    zeros = F.lit(m) - F.col("nonzero")
    linear = F.lit(mf) * F.log(F.lit(mf) / zeros)
    est = F.when((raw <= F.lit(2.5 * mf)) & (zeros > 0), linear) \
        .otherwise(raw)
    return agg.select("node", F.round(est, 4).alias("est_ball"),
                      "register_checksum")


def weighted_seed_distances(edges: DataFrame, seeds: DataFrame,
                            max_hops: int = 4, src: str = "src",
                            dst: str = "dst", weight: str = "w",
                            checkpoint_interval: int = 2) -> DataFrame:
    """Weighted single-source(-set) shortest paths, bounded to paths of
    at most ``max_hops`` edges -> (node, dist): the Bellman-Ford
    recurrence dist_h[v] = min(dist_{h-1}[v], min over in-edges
    (dist_{h-1}[u] + w(u,v))), run for a FIXED hop budget so the
    result is well-defined on both engines regardless of convergence
    (it equals the cheapest path using <= max_hops edges — exactly the
    crawl scheduler's "cheapest route within depth budget" semantics).
    Integer weights, no floats anywhere.

    Delta formulation (provably the same sequence as all-edge
    Bellman-Ford): each round relaxes only FROM nodes whose distance
    improved last round — a node whose label is stale was fully
    relaxed the round it last improved, so re-relaxing it cannot
    produce anything new. Per round: one keyed equi-join (frontier x
    out-edges), one partial-agged min-merge into the settled map, one
    join to diff out non-improvements — frontier-proportional work,
    like the unweighted BFS in ``seed_distances``, with the usual lazy
    plan + periodic truncation checkpoints. At 10^12 nodes the
    frontier join is the only corpus-scale exchange and it shrinks as
    labels settle."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                     F.col(weight).cast("long").alias("w"))
    dist = (seeds.select("node").distinct()
            .withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint())
    frontier = dist
    for h in range(1, max_hops + 1):
        relaxed = (frontier.join(e, frontier.node == e.s)
                   .groupBy(F.col("d").alias("node"))
                   .agg(F.min(F.col("dist") + F.col("w"))
                        .cast("long").alias("cand")))
        improved = (relaxed.join(dist, "node", "left_outer")
                    .filter(F.col("dist").isNull() |
                            (F.col("cand") < F.col("dist")))
                    .select("node", F.col("cand").alias("dist")))
        dist = (dist.unionByName(improved)
                .groupBy("node")
                .agg(F.min("dist").cast("long").alias("dist")))
        frontier = improved
        if h % checkpoint_interval == 0 and h < max_hops:
            frontier = frontier.localCheckpoint(eager=False)
            dist = dist.localCheckpoint(eager=False)
    return dist


def clustering_coefficients(edges: DataFrame, nodes: DataFrame | None = None,
                            src: str = "src", dst: str = "dst") -> DataFrame:
    """Local clustering coefficient per node in exact integer ppm ->
    (node, degree, n_triangles, cc_ppm) where cc_ppm =
    (2 * tri * 1e6) div (deg * (deg-1)), 0 for degree < 2. The
    triangle-density spam/community signal normalized to comparable
    scale — a page whose neighbors all interlink (link farm) pins near
    1e6, organic hubs sit low.

    Composition, not new machinery: triangles from the degree-ordered
    node-iterator (``triangle_counts``, wedge volume sqrt(m)-bounded)
    and degrees from one distinct-edge groupBy; the ratio is integer
    div, so the value gate is exact. One extra equi-join over the
    statistic-scale (node, count) tables."""
    tri = triangle_counts(edges, nodes=nodes, src=src, dst=dst)
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .filter(F.col("s") != F.col("d"))
         .select(F.least("s", "d").alias("a"),
                 F.greatest("s", "d").alias("b"))
         .distinct())
    deg = (e.select(F.col("a").alias("node"))
           .unionByName(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).cast("long")
                                .alias("degree")))
    return (tri.join(deg, "node", "left_outer")
            .select("node",
                    F.coalesce("degree", F.lit(0)).cast("long")
                    .alias("degree"),
                    "n_triangles",
                    F.when(F.coalesce("degree", F.lit(0)) >= 2,
                           F.expr("(2 * n_triangles * 1000000) div "
                                  "(degree * (degree - 1))"))
                    .otherwise(F.lit(0)).cast("long").alias("cc_ppm")))


def bounded_rings(edges: DataFrame, k: int = 3, src_col: str = "src",
                  dst_col: str = "dst") -> DataFrame:
    """Link-ring detection over a DIRECTED graph: nodes mutually
    reachable within ``k`` hops are grouped into rings (connected
    components over the mutual-reachability pairs) -> (node, ring_id,
    ring_size) for rings of size > 1. The spam-fighting primitive the
    undirected suite can't express: link exchanges and PBN rings are
    SHORT directed cycles (A->B->C->A), invisible to connected
    components (which merges everything the moment any path exists,
    direction ignored) and diluted in PageRank. Bounded-hop mutuality
    is the honest tractable contract: real rings are tight, and k caps
    both semantics and cost (full SCC over adversarial diameters needs
    a different engine-level algorithm).

    Scale shape: k-1 self-joins expand the frontier (each round
    DISTINCT-deduped, so growth is bounded by reachable-set size, ~
    out_degree^k); mutual pairs = one self-join of the reach relation
    on the swapped key; clusters via the pointer-jumping CC
    (O(log diameter) rounds). No window over raw edges, no collect;
    every join is a keyed equi-join (broadcast only if AQE proves the
    side small - reach relations are corpus-scale by construction, so
    nothing is pinned broadcast)."""
    e = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    reach = e.distinct()
    frontier = reach
    for _ in range(k - 1):
        frontier = (frontier.join(e.withColumnRenamed("u", "v2")
                                  .withColumnRenamed("v", "w"),
                                  F.col("v") == F.col("v2"))
                    .select("u", F.col("w").alias("v")).distinct())
        reach = reach.unionByName(frontier).distinct()
    swapped = reach.select(F.col("v").alias("u"), F.col("u").alias("v"))
    mutual = (reach.join(swapped, ["u", "v"])
              .filter(F.col("u") < F.col("v")))
    from ..spark.kg import connected_components
    pad = 12
    cedges = mutual.select(
        F.lpad(F.col("u").cast("string"), pad, "0").alias("src"),
        F.lpad(F.col("v").cast("string"), pad, "0").alias("dst"))
    comp = connected_components(cedges)
    labeled = comp.select(F.col("vertex").cast("long").alias("node"),
                          F.col("component").cast("long").alias("ring_id"))
    sizes = labeled.groupBy("ring_id").agg(
        F.count(F.lit(1)).cast("long").alias("ring_size"))
    return (labeled.join(sizes, "ring_id")
            .filter(F.col("ring_size") > 1)
            .select("node", "ring_id", "ring_size"))


def boruvka_mst(edges: DataFrame, nodes: DataFrame | None = None,
                max_rounds: int = 20,
                stats: dict | None = None,
                carry_live: bool = False) -> DataFrame:
    """Minimum spanning forest by Boruvka's algorithm -> the MST edge
    set (eid, u, v, w): THE textbook distributed MST (every round is
    pure data-parallel aggregation - no priority queue, no sequential
    union-find - which is why it, not Kruskal/Prim, is the shape used
    at cluster scale). Pipeline uses: minimal backbone of a similarity
    graph (single-linkage clustering IS Boruvka run to completion),
    cheapest crawl/replication topology over host RTTs.

    Requires a deterministic total order on edges: ties on ``w`` break
    by ``eid`` everywhere (min struct(w, eid, ...)), so the forest is
    unique and equals Kruskal's under the same order - which is exactly
    what the oracle replays.

    Per round: (1) drop intra-component edges (two broadcast-or-shuffle
    hash joins of edges against labels), (2) every component picks its
    min incident edge - ONE partial-aggregable groupBy of the two-sided
    incidence explode, (3) merge the chosen component pairs by running
    connected_components on the COMPONENT graph (statistic scale: at
    most one node per surviving component, so the inner pointer-jump
    works on a frame that at least halves every round), (4) relabel
    via one join. Components at least halve per round => <= log2(V)
    rounds; one localCheckpoint per frame per round (the CC
    round-loop lesson: never checkpoint intermediates).

    cf. reference graph usage: the reference's timegraph closes over
    chains sequentially; this is its scale-out counterpart for
    weighted backbone extraction."""
    from eventrelationextractor_spark.spark.kg import (
        connected_components,
    )
    e0 = edges.select("eid", "u", "v", "w").localCheckpoint()
    if nodes is None:
        nodes = (e0.select(F.col("u").alias("node"))
                 .unionByName(e0.select(F.col("v").alias("node")))
                 .distinct())
    nodes = nodes.select("node").localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("comp"))
    spark = edges.sparkSession
    mst = spark.createDataFrame([], "eid long, u long, v long, w long")
    rounds = 0
    for _ in range(int(max_rounds)):
        lu = labels.select(F.col("node").alias("u"),
                           F.col("comp").alias("cu"))
        lv = labels.select(F.col("node").alias("v"),
                           F.col("comp").alias("cv"))
        live = (e0.join(lu, "u").join(lv, "v")
                .filter(F.col("cu") != F.col("cv")))
        s = F.struct("w", "eid", "u", "v", "cu", "cv").alias("s")
        inc = (live.select(F.col("cu").alias("c"), s)
               .unionByName(live.select(F.col("cv").alias("c"), s)))
        sel = (inc.groupBy("c").agg(F.min("s").alias("s"))
               .select("s.*").distinct().localCheckpoint())
        if sel.isEmpty():
            break
        rounds += 1
        mst = (mst.unionByName(sel.select("eid", "u", "v", "w"))
               .localCheckpoint(eager=False))
        comp_cc = connected_components(
            sel.select(F.col("cu").cast("string").alias("src"),
                       F.col("cv").cast("string").alias("dst")))
        remap = comp_cc.select(
            F.col("vertex").cast("long").alias("comp"),
            F.col("component").cast("long").alias("newc"))
        labels = (labels.join(remap, "comp", "left")
                  .select("node", F.coalesce("newc", "comp")
                          .alias("comp"))
                  .localCheckpoint(eager=False))
        if carry_live:
            # edge cleanup: intra-component edges never re-qualify, so
            # later rounds can scan the (shrinking) cross-edge survivor
            # set instead of the full e0. Costs one extra checkpoint
            # per round — a loss at toy scale where fixed overhead
            # dominates, a win once the edge set dwarfs the rounds
            # (A/B'd per the house rule)
            e0 = (live.select("eid", "u", "v", "w")
                  .localCheckpoint(eager=False))
    if stats is not None:
        stats["rounds"] = rounds
    return mst


def priority_coloring(edges: DataFrame, nodes: DataFrame | None = None,
                      src: str = "src", dst: str = "dst",
                      max_rounds: int = 64,
                      stats: dict | None = None) -> DataFrame:
    """Distributed greedy graph coloring by priority peeling
    (Jones & Plassmann 1993) -> (node, color): round r removes every
    node whose hash priority beats all its still-uncolored neighbours
    and colors it r - each round's removals are an independent set by
    construction (two adjacent nodes cannot both be local maxima), so
    the result is always a proper coloring. The scheduling primitive a
    lakehouse uses to batch CONFLICTING maintenance jobs (compactions
    touching shared partitions, crawl fetches sharing a host): same
    color = safe to run concurrently.

    The priority is md5(node) || node - a deterministic total order
    (the appended node id breaks any hex tie), so the coloring is a
    pure function of the graph: color(v) equals the longest strictly
    priority-increasing path out of v, which is exactly what the
    oracle computes as a deduplicating recursive CTE over the
    low->high DAG.

    Scale shape: per round, survivors = one equi-join of the adjacency
    against the remaining set (both orientations) + an anti-join for
    the maxima; the remaining frame SHRINKS every round (expected
    O(log n) rounds on random priorities) and gets one localCheckpoint
    - the CC loop discipline. No window, no global sort."""
    adj = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .filter(F.col("a") != F.col("b")))
    adj = (adj.unionByName(adj.select(F.col("b").alias("a"),
                                      F.col("a").alias("b")))
           .distinct().localCheckpoint())
    if nodes is None:
        nodes = adj.select(F.col("a").alias("node")).distinct()
    pri = F.concat(F.md5(F.col("node").cast("string")),
                   F.col("node").cast("string"))
    rem = nodes.select("node", pri.alias("p")).localCheckpoint()
    spark = edges.sparkSession
    colored = spark.createDataFrame([], "node long, color long")
    rounds = 0
    for r in range(int(max_rounds)):
        if rem.isEmpty():
            break
        rounds = r
        ru = rem.select(F.col("node").alias("b"),
                        F.col("p").alias("pb"))
        surv = (rem.join(adj, rem.node == adj.a)
                .join(ru, "b")
                .filter(F.col("pb") > F.col("p"))
                .select("node", "p").distinct()
                .localCheckpoint())
        maxima = rem.join(surv.select("node"), "node", "left_anti")
        colored = (colored.unionByName(
            maxima.select("node", F.lit(r).cast("long").alias("color")))
            .localCheckpoint(eager=False))
        rem = surv
    if stats is not None:
        stats["rounds"] = rounds + 1
    return colored


def temporal_reachability(edges: DataFrame, seeds: DataFrame,
                          max_hops: int = 8,
                          src: str = "src", dst: str = "dst",
                          t_col: str = "t") -> DataFrame:
    """Time-respecting earliest-arrival reachability (Holme & Saramaki
    temporal networks) -> (node, earliest): from the seed set at time
    0, a node is reached at time t only via an edge whose timestamp is
    >= the arrival time at its tail - paths must move FORWARD in time,
    which is what makes temporal reachability different from (and
    much smaller than) static reachability. The infection/influence/
    provenance primitive: "what could this compromised host have
    touched, respecting when links were live?".

    Bounded-hop label-correcting relaxation (the link_seed_distances
    contract): per round ONE keyed join of the arrival frontier
    against the edge table (tail key) with the time guard
    t_edge >= arrival, then a partial-agged min-merge. ``max_hops``
    bounds rounds; earliest-arrival relaxations monotonically
    decrease, so re-expansion is bounded by distinct edge times per
    node. Arrival times are exact integers."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                     F.col(t_col).cast("long").alias("te")) \
        .localCheckpoint()
    arrival = (seeds.select(F.col("node"),
                            F.lit(0).cast("long").alias("earliest"))
               .distinct().localCheckpoint())
    for _ in range(int(max_hops)):
        hops = (arrival.join(e, arrival.node == e.u)
                .filter(F.col("te") >= F.col("earliest"))
                .select(F.col("v").alias("node"),
                        F.col("te").alias("earliest")))
        arrival = (arrival.unionByName(hops)
                   .groupBy("node")
                   .agg(F.min("earliest").alias("earliest"))
                   .localCheckpoint(eager=False))
    return arrival


def greedy_matching(edges: DataFrame, max_rounds: int = 25,
                    stats: dict | None = None) -> DataFrame:
    """Maximal matching by parallel local-max rounds (Israeli-Itai
    shape) -> the matched edge set (eid, u, v): every round, an alive
    edge joins the matching iff its priority beats every alive edge
    sharing an endpoint - those picks are conflict-free by
    construction, and the result EQUALS the sequential greedy matching
    under the same priority order (the globally-highest alive edge is
    always a local max; induct), which is exactly what the oracle
    replays edge-by-edge. The pairing primitive: dedup canonical-pair
    assignment, one-to-one task/resource matching, crawl host pairing.

    Priority = md5(eid) || eid (total order). Per round: one two-sided
    incidence explode + a partial-agged max per endpoint, one join
    back to find edges that win BOTH endpoints, one anti-join to drop
    edges touching newly matched vertices; the alive frame shrinks
    every round (expected O(log E) rounds on random priorities), one
    localCheckpoint each."""
    e0 = (edges.select("eid", "u", "v")
          .withColumn("p", F.concat(
              F.md5(F.col("eid").cast("string")),
              F.col("eid").cast("string")))
          .localCheckpoint())
    spark = edges.sparkSession
    matched = spark.createDataFrame([], "eid long, u long, v long")
    alive = e0
    rounds = 0
    for _ in range(int(max_rounds)):
        if alive.isEmpty():
            break
        rounds += 1
        inc = (alive.select(F.col("u").alias("x"), "p")
               .unionByName(alive.select(F.col("v").alias("x"), "p")))
        best = inc.groupBy("x").agg(F.max("p").alias("bp"))
        bu = best.select(F.col("x").alias("u"),
                         F.col("bp").alias("bpu"))
        bv = best.select(F.col("x").alias("v"),
                         F.col("bp").alias("bpv"))
        take = (alive.join(bu, "u").join(bv, "v")
                .filter((F.col("p") == F.col("bpu"))
                        & (F.col("p") == F.col("bpv")))
                .select("eid", "u", "v").localCheckpoint())
        matched = matched.unionByName(take) \
            .localCheckpoint(eager=False)
        mv = (take.select(F.col("u").alias("x"))
              .unionByName(take.select(F.col("v").alias("x")))
              .distinct())
        alive = (alive
                 .join(mv.select(F.col("x").alias("u")), "u",
                       "left_anti")
                 .join(mv.select(F.col("x").alias("v")), "v",
                       "left_anti")
                 .localCheckpoint(eager=False))
    if stats is not None:
        stats["rounds"] = rounds
    return matched


def butterfly_count(dt: DataFrame, left_col: str = "doc_id",
                    right_col: str = "token",
                    df_cap: int = 20) -> DataFrame:
    """Butterfly (bipartite 4-cycle) census of a (left, right)
    incidence table -> ONE row (n_rights, n_wedges, n_pairs,
    n_butterflies): the bipartite clustering primitive (Sanei-Mehri
    et al.) — a butterfly is two lefts sharing two rights, the motif
    whose density separates templated/near-dup structure from organic
    co-occurrence (4-cycles in the doc-token graph = repeated phrase
    blocks; in host-url graphs = mirror sites).

    Counting identity (exact): wedges per right = C(d, 2) pairs of
    lefts; grouping wedges by the left-pair gives shared-right counts
    c, and butterflies = sum C(c, 2). All integer (x*(x-1) div 2).

    Scale shape: the ONLY quadratic step fans out per right with
    degree <= ``df_cap`` (cap applied BEFORE pair formation, the
    capped_bucket_pairs contract — hot rights carry no information
    about near-duplication anyway); pair volume <= n_rights * C(cap,2).
    One equi-self-join on the right key + two partial-agged groupBys."""
    deg = (dt.groupBy(right_col)
           .agg(F.count(F.lit(1)).cast("long").alias("dfc")))
    used = (dt.join(deg.filter((F.col("dfc") <= df_cap)
                               & (F.col("dfc") >= 2)).hint("merge"),
                    right_col))
    la = used.select(F.col(right_col).alias("t"),
                     F.col(left_col).alias("a"))
    lb = used.select(F.col(right_col).alias("t"),
                     F.col(left_col).alias("b"))
    pairs = (la.join(lb, "t").filter(F.col("a") < F.col("b"))
             .groupBy("a", "b")
             .agg(F.count(F.lit(1)).cast("long").alias("c")))
    wstats = (used.select(right_col, "dfc").distinct()
              .agg(F.count(F.lit(1)).cast("long").alias("n_rights"),
                   F.coalesce(F.sum(F.expr("(dfc * (dfc - 1)) div 2")),
                              F.lit(0)).cast("long").alias("n_wedges")))
    pstats = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.coalesce(F.sum(F.expr("(c * (c - 1)) div 2")), F.lit(0))
        .cast("long").alias("n_butterflies"))
    return wstats.crossJoin(pstats)


def apsp_centrality(edges: DataFrame, nodes: DataFrame,
                    max_hops: int = 8,
                    checkpoint_interval: int = 2) -> DataFrame:
    """Hop-bounded EXACT betweenness + stress centrality over an
    undirected graph -> (node, stress, bc_micro): the classic
    "how much shortest-path traffic crosses this vertex" measures
    (Freeman betweenness; Shimbel stress), the standard bridge/
    bottleneck detectors for link graphs and entity-mention graphs
    that PageRank/degree miss (a low-degree cut vertex carries all
    cross-cluster traffic).

    Semantics: only (s, t) pairs with d(s, t) <= ``max_hops`` count
    (ego-betweenness flavor - the hop bound is part of the operator
    contract, which is what makes a FIXED-depth oracle replay exact).
    stress(v)   = sum over s < t of sigma_st(v)          (exact int)
    bc_micro(v) = sum over s < t of (1e6 * sigma_sv * sigma_vt)
                  div sigma_st  - per-TERM integer floor division,
    so the sum is engine-lockstep (the house rational-ppm pattern;
    never a float sum whose merge order could drift).

    Shape: multi-source level-synchronous BFS carrying path COUNTS
    - state (src, v, d, sigma), one equi-join + one groupBy + one
    anti-join per hop (frontier-proportional, same family as
    seed_distances) - then betweenness by the σ-decomposition
    σ_st(v) = σ_sv * σ_vt when d(s,v) + d(v,t) = d(s,t): ONE
    self-join pair of the APSP table instead of Brandes's backward
    sweep (no per-level reverse loop; Catalyst gets a single plan).
    Scale contract: state is |sources| x reachable-ball; run it on
    ALL nodes only for a bounded stratum (callers pass a sampled
    ``nodes`` frame at corpus scale - K-source approximate
    betweenness, the standard estimator)."""
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    e = (e.unionByName(e.select(F.col("d").alias("s"),
                                F.col("s").alias("d")))
         .filter(F.col("s") != F.col("d")).distinct().localCheckpoint())
    base = nodes.select("node").distinct()
    frontier = base.select(F.col("node").alias("src"),
                           F.col("node").alias("v"),
                           F.lit(1).cast("long").alias("sigma"))
    settled = frontier.withColumn("d", F.lit(0).cast("long"))
    for h in range(1, int(max_hops) + 1):
        nxt = (frontier.join(e, frontier.v == e.s)
               .select("src", F.col("d").alias("vn"), "sigma")
               .groupBy("src", "vn")
               .agg(F.sum("sigma").cast("long").alias("sigma"))
               .withColumnRenamed("vn", "v")
               .join(settled.select("src", "v"), ["src", "v"],
                     "left_anti"))
        settled = settled.unionByName(
            nxt.withColumn("d", F.lit(h).cast("long")))
        frontier = nxt
        if h % checkpoint_interval == 0 and h < max_hops:
            frontier = frontier.localCheckpoint(eager=False)
            settled = settled.localCheckpoint(eager=False)
    settled = settled.localCheckpoint(eager=False)
    a = settled.select(F.col("src").alias("s"), F.col("v").alias("m"),
                       F.col("d").alias("d1"),
                       F.col("sigma").alias("sig1"))
    b = settled.select(F.col("src").alias("m2"), F.col("v").alias("t"),
                       F.col("d").alias("d2"),
                       F.col("sigma").alias("sig2"))
    ds = settled.select(F.col("src").alias("s"), F.col("v").alias("t"),
                        F.col("d").alias("d_st"),
                        F.col("sigma").alias("sig_st"))
    mid = (a.join(b, a.m == b.m2)
           .join(ds, ["s", "t"])
           .filter((F.col("d1") + F.col("d2") == F.col("d_st"))
                   & (F.col("m") != F.col("s"))
                   & (F.col("m") != F.col("t"))
                   & (F.col("s") < F.col("t")))
           .groupBy(F.col("m").alias("node"))
           .agg(F.sum(F.col("sig1") * F.col("sig2"))
                .cast("long").alias("stress"),
                F.sum(F.expr("(1000000 * sig1 * sig2) div sig_st"))
                .cast("long").alias("bc_micro")))
    return (base.join(mid, "node", "left")
            .select("node",
                    F.coalesce(F.col("stress"), F.lit(0))
                    .cast("long").alias("stress"),
                    F.coalesce(F.col("bc_micro"), F.lit(0))
                    .cast("long").alias("bc_micro")))


def resolve_redirects(edges: DataFrame, src: str = "src",
                      dst: str = "dst", max_rounds: int = 8,
                      stats: dict | None = None) -> DataFrame:
    """Terminal-target resolution of a FUNCTIONAL graph (every node
    has at most one out-edge) by pointer doubling -> (src, final,
    hops, is_cycle): the crawl-frontier primitive that collapses HTTP
    redirect chains (301 -> 301 -> 200) to their landing URL before
    dedup/canonicalization, and the same shape as symlink resolution
    or next-version chasing in a CDC log. The reference resolves
    entity mentions through alias chains one lookup at a time
    (driver-side maps); at corpus scale the chain walk must be the
    log-round doubling below.

    Round k squares the pointer map (p <- p . p, hops add), so a
    chain of length L resolves in ceil(log2 L) rounds; a node on (or
    leading into) a cycle can never reach a terminal and is emitted
    as (src, NULL, NULL, true) once the 2^max_rounds hop budget is
    exhausted - NULL rather than the doubling trajectory's arbitrary
    on-cycle position, so the output is a pure function of the graph,
    not of the round count.

    Scale shape: the frame stays exactly |sources| rows the whole
    time; each round is ONE equi-join of the unresolved slice against
    the full map (shuffle on the pointer key) + a localCheckpoint to
    truncate lineage (the CC-loop discipline, spark/kg.py). No
    windows, no driver-side collect - this is ListRank, the textbook
    pointer-jumping pattern."""
    m = edges.select(F.col(src).alias("x"), F.col(dst).alias("y"),
                     F.lit(1).cast("long").alias("hops"))
    keys = m.select(F.col("x").alias("k")).distinct()
    m = (m.join(keys, m.y == keys.k, "left")
         .select("x", "y", "hops", F.col("k").isNull().alias("done"))
         .localCheckpoint())
    rounds = 0
    for r in range(int(max_rounds)):
        pending = m.filter(~F.col("done"))
        if pending.isEmpty():
            break
        rounds = r + 1
        ptr = m.select(F.col("x").alias("px"), F.col("y").alias("py"),
                       F.col("hops").alias("ph"),
                       F.col("done").alias("pd"))
        nd = (pending.join(ptr, F.col("y") == F.col("px"))
              .select("x", F.col("py").alias("y"),
                      (F.col("hops") + F.col("ph")).alias("hops"),
                      F.col("pd").alias("done")))
        m = m.filter(F.col("done")).unionByName(nd).localCheckpoint()
    if stats is not None:
        stats["rounds"] = rounds
    return m.select(
        F.col("x").alias("src"),
        F.when(F.col("done"), F.col("y")).alias("final"),
        F.when(F.col("done"), F.col("hops")).alias("hops"),
        (~F.col("done")).alias("is_cycle"))


def wl_colors(edges: DataFrame, nodes: DataFrame | None = None,
              n_rounds: int = 3) -> DataFrame:
    """1-dimensional Weisfeiler-Leman color refinement -> (color,
    n_nodes): the structural-role census behind WL graph kernels and
    GNN expressivity bounds, and a practical detector of templated /
    mirrored link structure (two nodes share a color iff their
    ``n_rounds``-hop neighborhood trees are isomorphic — far stronger
    than degree or triangle profiles).

    color_0 = degree; round r rehashes each node's own color with the
    SORTED multiset of its neighbors' colors:
    md5(c(v) || '|' || sorted_join(c(u) for u~v)). Every color is a
    32-char md5 hex, so each round is ONE equi-join + ONE groupBy
    (sort_array over bounded neighbor lists) regardless of round
    number — fixed state size, no growth, the pagerank cost family.
    All string/integer logic: the oracle replays rounds as chained
    CTEs with string_agg(... ORDER BY ...) bit-exactly."""
    und = (edges.select("src", "dst")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
           .distinct())
    if nodes is None:
        nodes = und.select(F.col("src").alias("node")).distinct()
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"))
    col = (nodes.join(deg, "node", "left")
           .select("node", F.coalesce(F.col("deg"), F.lit(0))
                   .cast("string").alias("c")))
    for _ in range(int(n_rounds)):
        nb = und.join(col.select(F.col("node").alias("dst"),
                                 F.col("c").alias("nc")), "dst")
        agg = nb.groupBy(F.col("src").alias("node")).agg(
            F.array_join(F.sort_array(F.collect_list("nc")), ",")
            .alias("nbs"))
        col = (col.join(agg, "node", "left")
               .select("node", F.md5(F.concat(
                   F.col("c"), F.lit("|"),
                   F.coalesce(F.col("nbs"), F.lit("")))).alias("c")))
    return col.groupBy(F.col("c").alias("color")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"))


def rich_club(edges: DataFrame) -> DataFrame:
    """Rich-club profile (Zhou & Mondragon 2004) -> one row per
    distinct degree value k: (k, n_nodes, n_edges, phi_ppm) where
    n_nodes/n_edges count the subgraph induced by nodes of degree > k
    and phi = 2*E_k / (N_k*(N_k-1)) — do the hubs of the link graph
    preferentially interlink (link farms, collusion rings), beyond
    what assortativity's single correlation can show?

    NO per-k subgraph pass: an edge survives threshold k iff
    min(deg_u, deg_v) > k and a node iff deg > k, so both counts are
    SUFFIX SUMS over the degree / edge-min-degree histograms — two
    partial-aggregable groupBys and one statistic-scale window,
    whatever max degree is. phi in lockstep ppm (guarded div);
    exact integers end to end."""
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b")).distinct())
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    dh = deg.groupBy(F.col("deg").alias("k")).agg(
        F.count(F.lit(1)).alias("nk"))
    em = (und.join(deg.select(F.col("node").alias("a"),
                              F.col("deg").alias("da")), "a")
          .join(deg.select(F.col("node").alias("b"),
                           F.col("deg").alias("db")), "b")
          .select(F.least("da", "db").alias("k")))
    eh = em.groupBy("k").agg(F.count(F.lit(1)).alias("ek"))
    hist = (dh.join(eh, "k", "full")
            .select("k", F.coalesce("nk", F.lit(0)).alias("nk"),
                    F.coalesce("ek", F.lit(0)).alias("ek")))
    w = Window.orderBy(F.col("k").desc()) \
        .rowsBetween(Window.unboundedPreceding, -1)
    prof = hist.select(
        "k",
        F.coalesce(F.sum("nk").over(w), F.lit(0)).alias("n_nodes"),
        F.coalesce(F.sum("ek").over(w), F.lit(0)).alias("n_edges"))
    return prof.select(
        F.col("k").cast("long").alias("k"),
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.when(F.col("n_nodes") >= 2, F.expr(
            "(2000000 * n_edges) div (n_nodes * (n_nodes - 1))"))
        .cast("long").alias("phi_ppm"))


def attack_robustness(edges: DataFrame, ks=(0, 1, 8)) -> DataFrame:
    """Targeted-attack robustness curve (Albert, Jeong & Barabasi
    2000) -> one row per k in ``ks``: remove the top-k hubs (degree
    desc, node-id tie-break) and report (k, n_removed, n_edges_left,
    largest_cc, n_components) over the surviving edge set — how fast
    does the link graph shatter when its hubs go? The scale-free-
    fragility telemetry behind crawl-frontier hardening and link-spam
    core removal (components count non-isolated vertices; nodes that
    lose every edge leave the component census).

    Only the top-max(ks) hubs ever need a RANK: they come from a
    distributed TakeOrdered (orderBy().limit — never a global
    row_number window over |V|), and the tiny ranked hub set
    broadcasts into a per-k left-join filter on both endpoints. The
    curve is len(ks) connected_components runs (pointer-jumping, log
    rounds) over shrinking edge sets — never a per-node pass. Output
    is a pure-integer statistic-scale table."""
    from ..spark.kg import connected_components

    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b")).distinct()
           .localCheckpoint())
    deg = (und.select(F.col("a").alias("node"))
           .unionByName(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    kmax = max(int(k) for k in ks)
    top = deg.orderBy(F.col("deg").desc(), "node").limit(kmax) \
        if kmax > 0 else deg.limit(0)
    w = Window.orderBy(F.col("deg").desc(), "node")
    ranked = top.select("node", F.row_number().over(w).alias("rn")) \
        .localCheckpoint()
    out = None
    for k in ks:
        kept = (und.join(F.broadcast(ranked.select(
                    F.col("node").alias("a"), F.col("rn").alias("ra"))),
                    "a", "left")
                .join(F.broadcast(ranked.select(
                    F.col("node").alias("b"), F.col("rn").alias("rb"))),
                    "b", "left")
                .filter((F.col("ra").isNull() | (F.col("ra") > int(k)))
                        & (F.col("rb").isNull()
                           | (F.col("rb") > int(k))))
                .select("a", "b"))
        labels = connected_components(kept, src="a", dst="b")
        sizes = labels.groupBy("component").agg(
            F.count(F.lit(1)).alias("sz"))
        row = sizes.agg(
            F.lit(int(k)).cast("long").alias("k"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("long")
            .alias("largest_cc"),
            F.count(F.lit(1)).cast("long").alias("n_components"))
        ecnt = kept.agg(F.count(F.lit(1)).cast("long")
                        .alias("n_edges_left"))
        rcnt = ranked.filter(F.col("rn") <= int(k)).agg(
            F.count(F.lit(1)).cast("long").alias("n_removed"))
        one = (row.crossJoin(ecnt).crossJoin(rcnt)
               .select("k", "n_removed", "n_edges_left",
                       "largest_cc", "n_components"))
        out = one if out is None else out.unionByName(one)
    return out


def bowtie_census(edges: DataFrame, max_hops: int = 8) -> DataFrame:
    """Broder bow-tie decomposition of a directed link graph (Broder
    et al., WWW 2000 — THE web-graph structure result) -> one row per
    populated class: (cls, n_nodes) over SCC / IN / OUT / TENDRIL /
    DISCONNECTED. Core = the min-pivot strongly connected component
    from one FW-BW round (:func:`scc_pivot`; the hop budget IS the
    semantic, per the traversal-ops contract); IN = nodes reaching
    the core (bw only), OUT = nodes the core reaches (fw only),
    TENDRIL = weakly connected to the core but on neither directed
    side, DISCONNECTED = a different weak component entirely. The
    crawl-strategy census: IN is where discovery seeds pay off, OUT
    is where crawl depth does, DISCONNECTED is invisible to both.

    Scale shape: two frontier BFS sweeps (single pivot — rows stay
    reachable-set-proportional, never pairs), one undirected
    connected_components run, and a statistic-scale class count; the
    core's weak-component label arrives via a one-row broadcast
    join, no collects."""
    from ..spark.kg import connected_components

    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    r = scc_pivot(edges, max_hops=max_hops)
    nodes = (e.select(F.col("s").alias("node"))
             .unionByName(e.select(F.col("d").alias("node")))
             .distinct())
    wcc = connected_components(e, src="s", dst="d")
    pivot = e.agg(F.min("s").alias("pnode"))
    core_lbl = (wcc.crossJoin(F.broadcast(pivot))
                .filter(F.col("vertex") == F.col("pnode"))
                .select(F.col("component").alias("core_component")))
    tagged = (nodes.join(r, "node", "left")
              .join(wcc.select(F.col("vertex").alias("node"),
                               "component"), "node", "left")
              .crossJoin(F.broadcast(core_lbl)))
    cls = (F.when(F.coalesce("in_scc", F.lit(False)), "SCC")
           .when(F.coalesce("bw", F.lit(False)), "IN")
           .when(F.coalesce("fw", F.lit(False)), "OUT")
           .when(F.col("component") == F.col("core_component"),
                 "TENDRIL")
           .otherwise("DISCONNECTED"))
    return (tagged.select(cls.alias("cls"))
            .groupBy("cls").agg(F.count(F.lit(1)).cast("long")
                                .alias("n_nodes")))
