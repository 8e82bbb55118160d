"""KG layers beyond the reference (north-star additions, SURVEY.md §7.1
step 6): entity linking against a broadcast alias dictionary and
canonicalization into connected components.

* ``link_mentions``: mentions ⋈ alias dict on the lowercase lemma-joined
  surface. The dictionary is small by construction (<= millions of rows at
  worst) -> explicit ``F.broadcast``; the join is map-side, no shuffle of
  the mention table.
* ``canonical_edges``: builds the edge list from extraction outputs:
  same-document IDENTITY/SIMULTANEOUS pairs, and alias matches.
* ``canonicalize``: connected components of that edge list in a fixed
  number of Spark jobs, whatever the graph's diameter. Every edge is
  doc-local except the mention -> alias edges, so the rows are
  repartitioned by url and one union-find pass per partition solves the
  doc-local components; what is left is the merge of alias classes, whose
  size is bounded by the alias dictionary: links aggregated per partition,
  one union-find on the driver, and a broadcast join of the class labels
  back.
* ``connected_components``: the general path (``ops/*``): min-label
  propagation with pointer jumping over bidirectional edges, seeded with
  each vertex's closed-neighbourhood minimum and with one
  ``localCheckpoint`` per round (lineage truncation). Each round shuffles
  on the vertex id and costs a fixed set of Spark jobs; a graph whose seed
  is already final (stars around their minimum, pairs) stops after one
  verifying round, a long chain takes more.
* ``cc_incremental``: refreshes labels with a batch of new edges in a
  fixed number of Spark jobs: the delta is contracted through the old
  labels, solved by one union-find on the driver, and the changed labels
  are broadcast-joined back.

Every labelling function gives a vertex the smallest vertex id (string order
for string ids) of its component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CC_MAX_ROUNDS = 25


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mentions(url, mention_id, kind, lemma, ...) ⋈ alias(alias, kind,
    canonical_id) -> linked mentions (left join; unlinked rows keep
    canonical_id null)."""
    m = mentions.withColumn("alias_key", F.lower(F.col("lemma")))
    a = alias_dict.select(F.col("alias").alias("alias_key"),
                          F.col("kind").alias("alias_kind"),
                          "canonical_id")
    return (m.join(F.broadcast(a),
                   (m.alias_key == a.alias_key) & (m.kind == a.alias_kind),
                   "left")
            .drop("alias_key", "alias_kind"))


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         stats: dict | None = None) -> DataFrame:
    """edges(src, dst) -> (vertex, component) with component = min vertex
    id (string order) in the component. ``stats`` (optional dict) gets
    ``rounds`` = iterations run until convergence. Raises RuntimeError
    when ``CC_MAX_ROUNDS`` rounds do not converge: the labels would be
    wrong."""
    # checkpoint the edge list FIRST: vertices/labels are derived from it,
    # so deriving them pre-checkpoint would re-execute the (expensive)
    # upstream extraction once more per derived frame
    both = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .unionByName(edges.select(F.col(dst).alias("a"),
                                      F.col(src).alias("b"))))
    both = both.localCheckpoint()
    # seed: the closed-neighbourhood minimum, i.e. the first hop without
    # a round - a star around its smallest vertex is final already. Not
    # checkpointed: it is one aggregation over the checkpointed edges,
    # which round 1's plan reuses through one Exchange
    labels = (both.groupBy(F.col("a").alias("vertex"))
              .agg(F.min(F.least("a", "b")).alias("component")))

    none = F.lit(None).cast(labels.schema["component"].dataType)

    for it in range(CC_MAX_ROUNDS):
        if stats is not None:
            stats["rounds"] = it + 1
        # 1-hop: pull the neighbour's current component; the vertex's own
        # row carries its old label through the aggregation as ``old``
        neighbor = (both.join(labels, both.b == labels.vertex)
                    .select(F.col("a").alias("vertex"),
                            F.col("component"), none.alias("old")))
        hop = (labels.withColumn("old", F.col("component"))
               .unionByName(neighbor)
               .groupBy("vertex")
               .agg(F.min("component").alias("component"),
                    F.max("old").alias("old")))
        # pointer jump: component(v) <- component(component(v)); component
        # ids are themselves vertex ids, so a chain whose ids grow along it
        # resolves in O(log length) rounds (other id orders can still take
        # O(diameter) rounds, up to ``CC_MAX_ROUNDS``). ``hop``
        # is deliberately NOT checkpointed: its aggregation feeds both
        # sides of the self-join through the SAME Exchange, which Spark's
        # ReuseExchange dedupes - one execution, no extra materialization.
        # (Checkpointing every intermediate per round piled up block-
        # manager state that ballooned driver-side per-action overhead
        # ~4x/round in late rounds - 25s -> 9s total on a 5k chain,
        # timeout -> 70s on a 1M-edge chain+hub graph after removing it.)
        # ONE checkpoint per round (lineage truncation point); ``old``
        # rides along so the convergence check is a scan of it.
        new_labels = (hop.alias("l")
                      .join(hop.alias("r"),
                            F.col("l.component") == F.col("r.vertex"),
                            "left")
                      .select(F.col("l.vertex").alias("vertex"),
                              F.least(F.col("l.component"),
                                      F.coalesce(F.col("r.component"),
                                                 F.col("l.component")))
                              .alias("component"),
                              F.col("l.old").alias("old"))
                      .localCheckpoint())
        changed = (new_labels
                   .filter(F.col("component") != F.col("old"))
                   .limit(1).count())
        labels = new_labels.drop("old")
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in "
                       f"{CC_MAX_ROUNDS} rounds")


def _keyed_edges(linked_mentions: DataFrame,
                 triples: DataFrame) -> DataFrame:
    """(url, src, dst, is_alias): the canonical edges with the url that
    scopes their doc-local end(s); ``is_alias`` marks dst as an alias
    node. Vertex ids are '<url>#<mention_id>' and 'alias:<canonical_id>'."""
    alias_edges = (linked_mentions
                   .filter(F.col("canonical_id").isNotNull())
                   .select("url",
                           F.concat_ws("#", "url", "mention_id").alias("src"),
                           F.concat(F.lit("alias:"),
                                    F.col("canonical_id")).alias("dst"),
                           F.lit(True).alias("is_alias")))
    sim_edges = (triples
                 .filter(F.col("pred").isin("SIMULTANEOUS", "IDENTITY"))
                 .select("url",
                         F.concat_ws("#", "url", "subj").alias("src"),
                         F.concat_ws("#", "url", "obj").alias("dst"),
                         F.lit(False).alias("is_alias")))
    return alias_edges.unionByName(sim_edges)


def canonical_edges(linked_mentions: DataFrame,
                    triples: DataFrame) -> DataFrame:
    """Edge list for canonicalization:
    * mention -> alias canonical id (the only cross-document edges),
    * same-document SIMULTANEOUS/IDENTITY triple endpoints.
    Vertex ids are globally scoped as '<url>#<mention_id>'; alias nodes as
    'alias:<canonical_id>'. Mention ids contain no '#', so two documents
    never share a non-alias vertex."""
    return _keyed_edges(linked_mentions, triples).select("src", "dst")


def _find(parent: dict, x):
    """Union-find root with path halving. Roots are their set's minimum
    (``_union`` hangs the larger root under the smaller)."""
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def _union(parent: dict, a, b) -> None:
    parent.setdefault(a, a)
    parent.setdefault(b, b)
    ra, rb = _find(parent, a), _find(parent, b)
    if ra != rb:
        parent[max(ra, rb)] = min(ra, rb)


def _arrow_frame(spark, columns: dict, schema: str) -> DataFrame:
    """A driver-side table ({column name: values}, names as in the DDL
    ``schema``) as a DataFrame of Arrow data. It plans as a
    LocalTableScan, and an empty one folds away in the optimizer. A list,
    or a pandas frame once it is empty, would be a Python RDD: one more
    Python stage per use."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)


_LOCAL_SCHEMA = "vertex string, local string, alias string, is_alias boolean"


def _doc_local_components(batches):
    """mapInArrow over one url-partition of (src, dst, is_alias) edges.
    Rows out: per doc-local vertex (vertex, local min of its doc-local
    component, min alias attached to that component or null, False); per
    (alias, anchor = min alias of a component it is attached to): (alias,
    smallest local min of such components, anchor, True) - the alias-class
    links, aggregated within the partition."""
    import pyarrow as pa

    parent: dict = {}
    attached = []
    for batch in batches:
        cols = batch.to_pydict()
        for s, d, is_alias in zip(cols["src"], cols["dst"], cols["is_alias"]):
            if is_alias:
                parent.setdefault(s, s)
                attached.append((s, d))
            else:
                _union(parent, s, d)
    aliases: dict = {}
    for s, d in attached:
        aliases.setdefault(_find(parent, s), set()).add(d)
    anchor = {root: min(group) for root, group in aliases.items()}
    out = {"vertex": [], "local": [], "alias": [], "is_alias": []}
    for v in parent:
        root = _find(parent, v)
        out["vertex"].append(v)
        out["local"].append(root)
        out["alias"].append(anchor.get(root))
        out["is_alias"].append(False)
    links: dict = {}
    for root, group in aliases.items():
        for a in group:
            key = (a, anchor[root])
            links[key] = min(root, links.get(key, root))
    for (a, anc), local in links.items():
        out["vertex"].append(a)
        out["local"].append(local)
        out["alias"].append(anc)
        out["is_alias"].append(True)
    yield pa.RecordBatch.from_pydict(out, schema=pa.schema(
        [("vertex", pa.string()), ("local", pa.string()),
         ("alias", pa.string()), ("is_alias", pa.bool_())]))


def _alias_class_labels(links) -> dict:
    """{alias node: component} from (vertex=alias, local, alias=anchor)
    link rows: a union-find over alias nodes, where each class's label is
    the min of its aliases and of the local mins attached to it."""
    parent: dict = {}
    local_min: dict = {}
    for a, local, anc in links:
        _union(parent, a, anc)
        local_min[anc] = min(local, local_min.get(anc, local))
    label = {a: a for a in parent if _find(parent, a) == a}
    for anc, local in local_min.items():
        root = _find(parent, anc)
        label[root] = min(label[root], local)
    return {a: label[_find(parent, a)] for a in parent}


def canonicalize(linked_mentions: DataFrame,
                 triples: DataFrame) -> DataFrame:
    """(vertex, component): canonical cluster id per vertex of
    :func:`canonical_edges`, equal to :func:`connected_components` over
    it, in a fixed number of Spark jobs and one Python pass.

    The url repartition puts every doc-local edge of a document in one
    partition (a union of two inputs would otherwise split a url's rows),
    so the per-partition union-find is exact for doc-local components.
    Alias nodes are the only shared vertices. Their classes are merged on
    the driver, from link rows bounded by the alias dictionary times the
    partition count, and the class labels are broadcast-joined back."""
    local = (_keyed_edges(linked_mentions, triples)
             .repartition("url")
             .select("src", "dst", "is_alias")
             .mapInArrow(_doc_local_components, _LOCAL_SCHEMA)
             .localCheckpoint())
    links = local.filter("is_alias").select("vertex", "local", "alias")
    labelled = _alias_class_labels(links.collect())
    classes = _arrow_frame(local.sparkSession,
                           {"alias": list(labelled),
                            "component": list(labelled.values())},
                           "alias string, component string")
    mentions = (local.filter(~F.col("is_alias"))
                .join(F.broadcast(classes), "alias", "left")
                .select("vertex",
                        F.coalesce("component", "local").alias("component")))
    return (mentions
            .unionByName(classes.withColumnRenamed("alias", "vertex"))
            .localCheckpoint())


def cc_incremental(labels: DataFrame, delta_edges: DataFrame,
                   stats: dict | None = None) -> DataFrame:
    """Incremental connected components: refresh (vertex, component)
    labels with a batch of NEW edges ``delta_edges(src, dst)`` without
    re-running CC over the base edge set - the graph analogue of
    ops/maintenance.py's ivm_refresh, and the shape an entity-resolution/canonicalization
    pipeline needs at 100 TB, where the mention graph grows by a crawl
    batch a day and the base has 10^11 edges.

    Contract-and-solve in a fixed number of Spark jobs, whatever the
    size or diameter of the delta:

    * contract: two left joins map each delta endpoint through its old
      label; an endpoint with no label is born in the delta and stands
      for itself. The (s, s_c, d, d_c) rows are collected: the driver
      holds one row per delta edge, a bound of the same kind as
      :func:`canonicalize`'s alias merge, never a row of the base.
    * solve: one union-find pass over the contracted edges; its roots
      are their set's minimum.
    * compose: every old label whose root changed is rewritten through a
      broadcast (old -> new) frame, and the born vertices are added with
      their roots.

    Exactness: an old component's label IS its min member, so the min
    over merged label-vertices equals the min over the merged membership
    - the labels equal a full CC over base UNION delta (the driver oracle
    asserts exactly that equivalence, via an independent recursive-
    closure formulation). ``stats`` (optional dict) gets ``rounds`` = 1,
    the one solve pass.

    Insert-only, like every self-maintainable aggregate: deleting an
    edge can split a component, which needs a base re-scan by nature.
    """
    e = delta_edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    ls = labels.select(F.col("vertex").alias("s"),
                       F.col("component").alias("s_c"))
    ld = labels.select(F.col("vertex").alias("d"),
                       F.col("component").alias("d_c"))
    parent: dict = {}
    born = set()
    for s, s_c, d, d_c in (e.join(ls, "s", "left").join(ld, "d", "left")
                           .select("s", "s_c", "d", "d_c").collect()):
        if s_c is None:
            born.add(s)
        if d_c is None:
            born.add(d)
        _union(parent, s if s_c is None else s_c, d if d_c is None else d_c)
    if stats is not None:
        stats["rounds"] = 1
    root = {v: _find(parent, v) for v in parent}
    moved = {v: r for v, r in root.items() if r != v and v not in born}
    vtype, ctype = (labels.schema[c].dataType.simpleString()
                    for c in ("vertex", "component"))
    spark = labels.sparkSession
    remap = _arrow_frame(spark, {"old": list(moved),
                                 "new": list(moved.values())},
                         f"old {ctype}, new {ctype}")
    born_rows = _arrow_frame(spark, {"vertex": list(born),
                                     "component": [root[v] for v in born]},
                             f"vertex {vtype}, component {ctype}")
    return (labels.join(F.broadcast(remap),
                        F.col("component") == F.col("old"), "left")
            .select("vertex",
                    F.coalesce("new", "component").alias("component"))
            .unionByName(born_rows))
