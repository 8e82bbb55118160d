"""Embedding k-means clustering - the data-mixing / SemDeDup-style
primitive a training-data pipeline uses to discover domains, balance a
corpus, or prune semantically duplicated regions (cluster, then sample
per cluster).

Scale shape (Lloyd's algorithm, the classic Spark formulation):

* **Assignment is map-side.** Centroids are a driver-known k x dim
  matrix (k*dim doubles - tiny at any corpus size) broadcast into ONE
  Arrow ``mapInPandas`` stage computing ``argmin ||v - c||`` per batch
  via a BLAS matmul. Zero shuffle, constant plan size at any k - the
  same branch structure as ops/simsearch.py's IVF assignment, which won
  its in-session A/B at every cell count.
* **The update is one partial-aggregated shuffle per iteration.**
  posexplode to (cell, pos, val) then groupBy(cell, pos).avg: partial
  aggregation reduces map output to k*dim rows per task before the
  exchange, so the shuffle is O(k * dim * n_tasks), not O(corpus).
  The k*dim averaged values collected to the driver are the next
  centroid matrix (the only collect - never the corpus).
* Empty clusters keep their previous centroid (deterministic; matches
  the SQL oracle's COALESCE on a left join).

Determinism contract (mirrored by the DuckDB oracle in
__spark_entry__.py): init centroids are the vectors with ids [0, k);
distance is squared Euclidean in float64; ties break to the lowest
cell id; iteration count is fixed, not convergence-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_clusters(emb: DataFrame, centroids, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(id, v, cluster): nearest-centroid assignment, map-side only.

    ``centroids`` is an ordered list/array of dim-length float lists
    (cluster c = centroids[c]). Stable argmin breaks exact-distance
    ties to the lowest cluster id, like the oracle's ORDER BY dist,
    cell LIMIT 1."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)           # (k, dim)
    Csq = (C * C).sum(axis=1)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["v"]])
            # ||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2 ; ||v||^2 is constant
            # per row so argmin needs only the last two terms
            d = Csq[None, :] - 2.0 * (V @ C.T)
            cell = np.argmin(d, axis=1)                   # first min wins
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "v": pdf["v"],
                                "cluster": cell.astype(np.int64)})

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return emb.select(F.col(id_col).alias("vec_id"), vec.alias("v")) \
        .mapInPandas(gen, "vec_id long, v array<double>, cluster long")


def _update_centroids(assigned: DataFrame, centroids) -> list:
    """One Lloyd update: per-cluster element-wise mean via a partial-agg
    groupBy; clusters with no members keep their previous centroid."""
    rows = (assigned
            .select("cluster", F.posexplode("v").alias("pos", "val"))
            .groupBy("cluster", "pos").agg(F.avg("val").alias("m"))
            .collect())
    new = [list(c) for c in centroids]
    got = {}
    for r in rows:
        got.setdefault(r.cluster, {})[r.pos] = r.m
    for cell, dims in got.items():
        new[cell] = [dims[i] for i in range(len(new[cell]))]
    return new


def kmeans_fit(emb: DataFrame, k: int = 8, n_iter: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding"):
    """Fixed-iteration Lloyd k-means. Returns (centroids, assignment):
    the final centroid list and the (vec_id, cluster) DataFrame of the
    final assignment under them.

    Init = the vectors with ids [0, k) (driver-known, like the IVF
    centroids); then ``n_iter`` assign+update cycles; the returned
    assignment is one more map-side pass under the final centroids."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    centroids = [
        [float(x) for x in r.v] for r in
        sorted(emb.filter(F.col(id_col) < k)
               .select(F.col(id_col).alias("i"), vec.alias("v")).collect(),
               key=lambda r: r.i)]
    if len(centroids) != k:
        raise ValueError(f"need ids [0, {k}) present for deterministic "
                         f"init; found {len(centroids)}")
    for _ in range(n_iter):
        assigned = assign_clusters(emb, centroids, id_col, vec_col)
        centroids = _update_centroids(assigned, centroids)
    final = assign_clusters(emb, centroids, id_col, vec_col) \
        .select("vec_id", "cluster")
    return centroids, final


def semdedup(emb: DataFrame, k: int = 8, n_iter: int = 2,
             threshold: float = 0.99, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then pruning
    within-cluster pairs whose cosine exceeds ``threshold``.

    -> (vec_id, cluster, is_kept, max_sim_lower): a vector is pruned
    (is_kept = false) iff some LOWER-id vector in its cluster has
    cosine >= threshold with it - the deterministic keep-earliest rule,
    local to each pair, so the decision is one per-vector aggregation
    (no transitive closure; for transitive semantics compose with
    spark/kg.py connected components as dedup_resolution does).
    ``max_sim_lower`` is the strongest such similarity (null if kept).

    Scale shape - the whole point of SemDeDup over global pair
    enumeration: the pair space is CLUSTER-LOCAL, O(sum c_i^2), and k
    is chosen to scale with the corpus so cluster size n/k stays
    bounded (the paper uses ~11k clusters at 100M docs). Stages:
    k-means via ``kmeans_fit`` (map-side broadcast-centroid
    assignment, one partial-agg shuffle per update), one more
    assignment pass under the final centroids, per-VECTOR norm
    precompute (the round-3 A/B lesson: per-pair norms tripled verify
    cost), then a cluster-keyed equi self-join (sort-merge,
    AQE-splittable if a cluster runs hot) filtered a < b with a
    codegen dot-product verify, and one groupBy(b) max. Cosine is
    rounded to 6 decimals BEFORE thresholding, identically in the SQL
    oracle."""
    from .simsearch import _dot
    centroids, _ = kmeans_fit(emb, k, n_iter, id_col, vec_col)
    assigned = assign_clusters(emb, centroids, id_col, vec_col)
    withn = assigned.withColumn("nv", F.sqrt(_dot(F.col("v"), F.col("v"))))
    a = withn.select("cluster", F.col("vec_id").alias("a"),
                     F.col("v").alias("av"), F.col("nv").alias("na"))
    b = withn.select("cluster", F.col("vec_id").alias("b"),
                     F.col("v").alias("bv"), F.col("nv").alias("nb"))
    hits = (a.join(b, "cluster")
            .filter(F.col("a") < F.col("b"))
            .withColumn("cos", F.round(
                _dot(F.col("av"), F.col("bv"))
                / (F.col("na") * F.col("nb")), 6))
            .filter(F.col("cos") >= threshold))
    pruned = hits.groupBy(F.col("b").alias(id_col)) \
        .agg(F.max("cos").alias("max_sim_lower"))
    return (withn.select(id_col, "cluster")
            .join(pruned, id_col, "left")
            .select(id_col, "cluster",
                    F.col("max_sim_lower").isNull().alias("is_kept"),
                    "max_sim_lower"))


def class_stats(emb: DataFrame, label_col: str = "label",
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Per-class embedding QA: (label, n, centroid_norm, mean_cos) -
    class size, centroid L2 norm, and the mean cosine of members to
    their OWN centroid (within-class cohesion). The pre-training sanity
    pass on any labeled embedding table: a class whose cohesion ~0 is
    noise, a centroid norm ~0 means the class self-cancels; both doom a
    classifier before a single epoch is spent.

    Shape: per-dim centroid via ONE posexplode + partial-agged
    groupBy(label, pos) (the Lloyd-update pattern), reassembled with
    sort_array(collect_list(struct)) per label (bounded by dim); the
    member-to-centroid cosine joins the tiny centroid table back
    broadcast and folds per row. No driver-side vectors."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(label_col).alias("lbl"), vec.alias("v"))
    cent = (base.select("lbl", F.posexplode("v").alias("pos", "x"))
            .groupBy("lbl", "pos").agg(F.avg("x").alias("m"))
            .groupBy("lbl")
            .agg(F.expr("transform(sort_array(collect_list("
                        "struct(pos, m))), s -> s.m)").alias("c")))
    dot = F.aggregate(F.zip_with("v", "c", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    vn = F.sqrt(F.aggregate(F.transform("v", lambda a: a * a),
                            F.lit(0.0), lambda acc, x: acc + x))
    cn = F.sqrt(F.aggregate(F.transform("c", lambda a: a * a),
                            F.lit(0.0), lambda acc, x: acc + x))
    # degenerate guard: a self-canceling class has a ~zero centroid -
    # define its members' cosine as 0.0 instead of dividing by zero
    cos = F.when(cn > 0, dot / (vn * cn)).otherwise(F.lit(0.0))
    scored = (base.join(F.broadcast(cent), "lbl")
              .select("lbl", cos.alias("cos")))
    return (scored.groupBy("lbl")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("cos"), 6).alias("mean_cos"))
            .join(cent.select(
                "lbl", F.round(F.sqrt(F.aggregate(
                    F.transform("c", lambda a: a * a),
                    F.lit(0.0), lambda acc, x: acc + x)), 6)
                .alias("centroid_norm")), "lbl")
            .select(F.col("lbl").alias("label"), "n", "centroid_norm",
                    "mean_cos"))


def bcubed(assign: DataFrame, pred_col: str = "pred",
           gold_col: str = "gold") -> DataFrame:
    """B-cubed extrinsic clustering evaluation (Bagga & Baldwin 1998;
    the metric of record for dedup/coref cluster quality - Amigo et al.
    2009 showed it is the only common clustering metric satisfying all
    four formal constraints). Per item: precision = |pred-cluster
    ∩ gold-cluster| / |pred-cluster|, recall = same over the gold
    cluster; reported as the corpus means. This is the acceptance gate
    for any dedup-tier change: run dedup_resolution, score its clusters
    against the generator's (or an adjudicated sample's) truth.

    Integer-exact cross-engine: every per-item fraction is summed at
    the (pred, gold) CELL level - a cell of c items contributes
    c^2*10^6 div cluster_size micro-units - using integer floor
    division, so no float enters any aggregation and merge order
    cannot move the result. Outputs ppm integers; f1 = harmonic mean
    on the ppm values, floor again.

    Scale shape: three partial-agged groupBys (pred sizes, gold sizes,
    cells) + two keyed joins on cluster ids; no window, no collect -
    cluster-count cardinality everywhere after the first agg."""
    lab = assign.select(F.col(pred_col).alias("p"),
                        F.col(gold_col).alias("g"))
    sp = lab.groupBy("p").agg(F.count(F.lit(1)).alias("sp"))
    sg = lab.groupBy("g").agg(F.count(F.lit(1)).alias("sg"))
    cells = lab.groupBy("p", "g").agg(F.count(F.lit(1)).alias("c"))
    contrib = (cells.join(sp, "p").join(sg, "g")
               .select("c",
                       F.expr("c * c * 1000000 div sp").alias("pc"),
                       F.expr("c * c * 1000000 div sg").alias("rc")))
    agg = contrib.agg(F.sum("c").alias("n"),
                      F.sum("pc").alias("psum"),
                      F.sum("rc").alias("rsum"))
    return agg.selectExpr(
        "CAST(n AS BIGINT) AS n_items",
        "CAST(psum div n AS BIGINT) AS b3_precision_ppm",
        "CAST(rsum div n AS BIGINT) AS b3_recall_ppm",
        "CAST(CASE WHEN psum div n + rsum div n > 0 THEN "
        "2 * (psum div n) * (rsum div n) div (psum div n + rsum div n) "
        "ELSE 0 END AS BIGINT) AS b3_f1_ppm")


def kcenter_select(emb: DataFrame, k: int = 6, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Farthest-first traversal (Gonzalez 1985; the 2-approximation to
    k-center) -> the selection trace (rank, vec_id, dist6): greedy
    max-coverage picking of ``k`` maximally spread vectors - the
    diversity/coreset sampler (seed eval sets, kmeans++-style inits,
    'cover the embedding space with k probes') that complements
    similarity-driven selection everywhere else in the suite.

    Determinism contract (the suite's ranked-float discipline): start
    at the MINIMUM id; each round picks argmax of the 6dp-ROUNDED
    squared-L2 distance to the nearest already-selected center, id
    ascending on ties; distances accumulate as full-precision
    least(...) chains and round only at pick time - the DuckDB twin
    replays the same chain as k-1 chained CTEs. dist6 of rank 1 is
    0.0 by definition.

    Scale shape: each round is ONE distributed scan (the running
    min-distance column extends by a single zip_with fold against the
    newest center, a 64-double literal) + a TakeOrdered(1); the only
    collects are the k 1-row picks - model-scale, like kmeans'
    centroid gather. O(k) passes, no pairwise blowup, no window."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col).alias("id"), vec.alias("v"))

    def l2sq(vlit):
        arr = F.array(*[F.lit(float(x)) for x in vlit])
        return F.aggregate(F.zip_with("v", arr,
                                      lambda x, y: (x - y) * (x - y)),
                           F.lit(0.0), lambda acc, x: acc + x)

    first = base.orderBy("id").limit(1).collect()[0]
    picked = [(1, int(first.id), 0.0)]
    chosen_ids = [int(first.id)]
    cur = base.withColumn("dm", l2sq(first.v))
    for rank in range(2, k + 1):
        top = (cur.filter(~F.col("id").isin(chosen_ids))
               .select("id", "v", F.round("dm", 6).alias("d6"))
               .orderBy(F.col("d6").desc(), F.col("id"))
               .limit(1).collect()[0])
        picked.append((rank, int(top.id), float(top.d6)))
        chosen_ids.append(int(top.id))
        cur = cur.withColumn("dm", F.least(F.col("dm"), l2sq(top.v)))
    spark = emb.sparkSession
    return spark.createDataFrame(picked, "rank long, vec_id long, "
                                         "dist6 double")


def dbscan_grid(points: DataFrame, eps: int, min_pts: int,
                id_col: str = "pid", x_col: str = "x",
                y_col: str = "y") -> DataFrame:
    """Distributed 2-D DBSCAN by grid-cell blocking ->
    (pid, is_core, label): density-based clustering with noise - the
    spatial/embedding-map analog of the near-dup cluster ops (cluster
    = maximal set density-connected through core points; border
    points adopt a core neighbor's cluster; everything else is noise,
    label -1). The classic MR-DBSCAN shape.

    Exactness of the blocking: coordinates are INTEGERS >= 0 (callers
    quantize; negative coords would split cells on trunc-div) and the
    grid cell is eps x eps, so any two points within eps live in
    ADJACENT cells - expanding each point to its 3x3 cell
    neighborhood and equi-joining on the cell key yields every
    eps-pair exactly once per direction (the right side is keyed by
    its OWN cell). No distance computation ever leaves a cell
    neighborhood: candidate count is sum over cells of |c| * |N(c)|,
    never |V|^2 - the capped_bucket_pairs discipline for geometry.

    Distances are exact squared-integer Euclidean (dx*dx + dy*dy <=
    eps*eps; no sqrt, no float). Core = |eps-neighbors| + 1 >=
    min_pts (the point itself counts, matching the textbook
    definition). Cluster labels = min pid per component of the
    core-core eps-graph (spark/kg.py::connected_components pointer
    jumping); border points take the MIN label among their core
    neighbors (deterministic tie-break, mirrored by the oracle's
    recursive-CTE closure)."""
    from ..spark.kg import connected_components

    p = points.select(F.col(id_col).alias("pid"),
                      F.col(x_col).cast("long").alias("x"),
                      F.col(y_col).cast("long").alias("y"))
    p = p.withColumn("cx", F.expr(f"x div {int(eps)}")) \
         .withColumn("cy", F.expr(f"y div {int(eps)}"))
    off = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    probe = (p.select("pid", "x", "y", "cx", "cy",
                      F.explode(off).alias("ox"))
             .select("pid", "x", "y",
                     (F.col("cx") + F.col("ox")).alias("px"), "cy")
             .select("pid", "x", "y", "px", F.explode(off).alias("oy"),
                     "cy")
             .select("pid", "x", "y", "px",
                     (F.col("cy") + F.col("oy")).alias("py")))
    right = p.select(F.col("pid").alias("pid_b"),
                     F.col("x").alias("xb"), F.col("y").alias("yb"),
                     F.col("cx").alias("px"), F.col("cy").alias("py"))
    dx = F.col("x") - F.col("xb")
    dy = F.col("y") - F.col("yb")
    pairs = (probe.join(right, ["px", "py"])
             .filter((F.col("pid") != F.col("pid_b"))
                     & (dx * dx + dy * dy <= int(eps) * int(eps)))
             .select("pid", "pid_b"))
    pairs = pairs.localCheckpoint(eager=False)
    ncnt = pairs.groupBy("pid").agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("n_nb"))
    core = (p.select("pid").join(ncnt, "pid", "left")
            .select("pid", (F.coalesce(F.col("n_nb"), F.lit(1))
                            >= int(min_pts)).alias("is_core")))
    core_ids = core.filter("is_core").select("pid")
    ce = (pairs.join(core_ids, "pid")
          .join(core_ids.select(F.col("pid").alias("pid_b")), "pid_b"))
    # isolated core points (min_pts=1 edge case) still need a label:
    # CC only sees vertices with edges, so union self-loops
    comp = connected_components(
        ce.select(F.col("pid").alias("src"), F.col("pid_b").alias("dst"))
        .unionByName(core_ids.select(F.col("pid").alias("src"),
                                     F.col("pid").alias("dst"))))
    comp = comp.select(F.col("vertex").alias("pid"),
                       F.col("component").cast("long").alias("label"))
    border = (pairs.join(core_ids.select(
        F.col("pid").alias("pid_b")), "pid_b")
        .join(comp.select(F.col("pid").alias("pid_b"),
                          F.col("label")), "pid_b")
        .groupBy("pid").agg(F.min("label").alias("blabel")))
    return (core.join(comp, "pid", "left")
            .join(border, "pid", "left")
            .select("pid", "is_core",
                    F.coalesce(F.col("label"), F.col("blabel"),
                               F.lit(-1)).cast("long").alias("label")))


# --------------------------------------------------------------- PCA

def _trunc_div(a: int, b: int) -> int:
    """Truncation-toward-zero integer division — the shared
    cross-engine semantic (Spark `div`, DuckDB `//`), spelled
    explicitly because Python's // floors instead."""
    q = abs(a) // b
    return q if a >= 0 else -q


def pca_power(emb: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", iters: int = 8,
              q_scale: int = 10000, v_scale: int = 1024) -> DataFrame:
    """Top principal-component projection by FIXED-POINT power
    iteration -> (id, pc1_proj): the embedding-space structure op
    (whitening, drift detection, ABTT-style dominant-direction
    removal) with zero float arithmetic after the initial quantize,
    so the result is bit-exact on any engine / merge order.

    Pipeline: quantize each component to ``floor(x * q_scale)``
    BIGINT (exact: float32 widens to float64 losslessly and the
    product is one IEEE rounding on both engines — the
    embedding_quantize precedent); center on the trunc-div integer
    mean; accumulate the exact integer Gram matrix per Arrow batch
    (numpy int64 ``Vc.T @ Vc`` — a few thousand BIGINTs per
    partition, partial-aggregated); drive ``iters`` power-iteration
    rounds on the driver in pure Python ints, rescaling the vector
    to max-abs ``v_scale`` each round with trunc division; fix the
    sign so the largest-|component| coordinate (tie: lowest index)
    is positive; project every centered row onto the component.

    Scale shape: three scans (means, Gram, projection), all
    Arrow-vectorized, no shuffle wider than d^2 Gram partials;
    driver traffic is d sums + d^2 Gram cells + the d-vector
    (model-scale collects). Overflow budget (documented, not
    checked per-row): |Gram| < (q_scale)^2 * n_rows and
    |Gram| * v_scale * d must stay under 2^63 — at q_scale 1e4,
    v_scale 2^10, d 64 that admits ~1e6 unit-norm rows; drop
    q_scale to 1e3 for billion-row corpora."""
    import numpy as np

    d_len = emb.select(F.size(vec_col)).first()[0]
    q = emb.select(
        F.col(id_col).alias("vid"),
        F.expr(f"transform({vec_col}, x -> CAST(floor("
               f"CAST(x AS DOUBLE) * {q_scale}) AS BIGINT))")
        .alias("qarr"))
    sums = (q.select(F.posexplode("qarr").alias("i", "qv"))
            .groupBy("i").agg(F.sum("qv").alias("s"),
                              F.count(F.lit(1)).alias("n"))
            .collect())
    means = [0] * d_len
    for r in sums:
        means[r["i"]] = _trunc_div(int(r["s"]), int(r["n"]))
    mu = np.array(means, dtype=np.int64)

    def gram_partial(batches):
        import pandas as pd
        g = np.zeros((d_len, d_len), dtype=np.int64)
        for pdf in batches:
            v = np.stack(pdf["qarr"].to_numpy()).astype(np.int64)
            vc = v - mu
            g += vc.T @ vc
        ii, jj = np.nonzero(np.ones_like(g))
        yield pd.DataFrame({"i": ii, "j": jj, "s": g[ii, jj]})

    gram_rows = (q.mapInPandas(gram_partial, "i int, j int, s long")
                 .groupBy("i", "j").agg(F.sum("s").alias("s"))
                 .collect())
    g = [[0] * d_len for _ in range(d_len)]
    for r in gram_rows:
        g[r["i"]][r["j"]] = int(r["s"])

    v = [1] * d_len
    for _ in range(int(iters)):
        w = [sum(g[i][j] * v[j] for j in range(d_len))
             for i in range(d_len)]
        m = max(abs(x) for x in w)
        if m == 0:
            break
        v = [_trunc_div(x * v_scale, m) for x in w]
    # sign convention: the max-|value| coordinate (tie: lowest
    # index) ends positive
    pivot = max(range(d_len), key=lambda i: (abs(v[i]), -i))
    if v[pivot] < 0:
        v = [-x for x in v]
    pc = np.array(v, dtype=np.int64)

    def project(batches):
        import pandas as pd
        for pdf in batches:
            m2 = np.stack(pdf["qarr"].to_numpy()).astype(np.int64)
            yield pd.DataFrame({
                "vid": pdf["vid"],
                "pc1_proj": (m2 - mu) @ pc})

    return (q.mapInPandas(project, "vid long, pc1_proj long")
            .select(F.col("vid").alias(id_col),
                    F.col("pc1_proj").cast("long")))


