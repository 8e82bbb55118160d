"""Similarity search over an embedding column (array<float>).

* ``brute_force_topk``: exact cosine top-k for a query subset - the
  correctness baseline. Dot products run JVM-side via
  aggregate(zip_with(..)) inside codegen; no Python.
* ``hyperplane_lsh_topk``: the scale path - random-hyperplane signatures
  (md5-derived deterministic +-1 planes) bucket the corpus so each query
  only scores its own bucket; at 100 TB this replaces the crossJoin with
  an equi-join on the signature. Same output schema.

Ranking output is (query_id, rank, neighbor_id); cosine values are
computed in float64 and gaps between random vectors are >> 1 ulp, so
DuckDB's list-based oracle ranks identically.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(v):
    return F.sqrt(_dot(v, v))


def _with_cosine(pairs: DataFrame) -> DataFrame:
    """Expects qv/cv plus their PRE-COMPUTED norms qn/cn: each vector
    fans out to many pairs, so norms are computed once per vector at the
    select that builds the side, not per pair (bit-identical - a norm is
    a deterministic function of the vector - and it cuts the per-pair
    aggregate-lambda work 3x in an A/B).

    Degenerate-vector guard: a zero-norm vector makes the divisor 0,
    which THROWS under ANSI mode (Spark 4 default) and yields NULL/NaN
    otherwise - either way the ranking breaks or diverges across
    engines. Pin degenerate pairs to cosine -1.0 (below any real
    cosine) via a short-circuiting CASE, so the division never
    evaluates on a zero divisor."""
    denom = F.col("qn") * F.col("cn")
    return pairs.withColumn(
        "cosine",
        F.when(denom > 0,
               F.nanvl(_dot(F.col("qv"), F.col("cv")) / denom,
                       F.lit(-1.0)))
        .otherwise(F.lit(-1.0)))


def brute_force_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """(query_id, rank, neighbor_id, cosine) - exact top-k by cosine.

    The query side is tiny (n_queries rows) and explicitly broadcast, so
    the 'crossJoin' is really a broadcast nested loop that streams the
    corpus once - the right baseline shape at any scale."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col).alias("cid"), vec.alias("cv")) \
        .withColumn("cn", _norm(F.col("cv")))
    queries = (emb.filter(F.col(id_col) < n_queries)
               .select(F.col(id_col).alias("qid"), vec.alias("qv"))
               .withColumn("qn", _norm(F.col("qv"))))
    pairs = base.crossJoin(F.broadcast(queries)).filter(F.col("qid") != F.col("cid"))
    scored = _with_cosine(pairs)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("rank").cast("long").alias("rank"),
                    F.col("cid").alias("neighbor_id"),
                    F.round("cosine", 6).alias("cosine")))


def ivf_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
             n_cells: int = 16, nprobe: int = 2, centroid_offset: int = 100,
             id_col: str = "vec_id", vec_col: str = "embedding",
             assign: str = "arrow", arrow_threshold: int = 64) -> DataFrame:
    """IVF (inverted-file) approximate top-k - the other classic ANN scale
    path next to hyperplane LSH.

    A coarse quantizer assigns every vector to its nearest of ``n_cells``
    centroids; a query scores only the vectors in its ``nprobe`` closest
    cells. At scale the corpus is partitioned by cell id, so probing is an
    equi-join on ``cell`` that touches nprobe/n_cells of the data instead
    of a full scan. Centroids are deterministic - the corpus vectors with
    ids [centroid_offset, centroid_offset + n_cells) - so the DuckDB
    oracle reproduces the exact assignment (no k-means iteration; a real
    deployment would train centroids offline and broadcast them the same
    way).

    Assignment branches (``assign='arrow'|'literal'|'auto'``): both are
    map-side with ZERO pre-probe shuffle. 'arrow' (default) broadcasts a
    numpy centroid matrix into one mapInPandas stage (argsort of V @ C.T
    per Arrow batch) - constant plan size at any n_cells, and measured
    FASTER than the literal path even at n_cells=16 (1.08s vs 3.04s
    in-session medians of a round-3 A/B: the literal
    expression tree pays n_cells interpreted aggregate lambdas per row).
    'literal' embeds the centroids as literal array expressions in pure
    codegen - kept for Python-worker-free deployments; its expression
    tree grows with n_cells x dim and blows past codegen/plan-size
    limits at realistic IVF cell counts (2^12-2^16). 'auto' picks
    literal at n_cells <= arrow_threshold, arrow above."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # Centroids are driver-known (a real deployment trains them offline
    # and broadcasts them); this collect is n_cells tiny rows, never the
    # corpus. The earlier formulation joined the corpus against the
    # centroid table - an n_cells-fold row explosion - then shuffled it
    # through a Window to take the argmax.
    cent_rows = sorted(
        (r.cell, [float(x) for x in r.centv])
        for r in emb.filter((F.col(id_col) >= centroid_offset)
                            & (F.col(id_col) < centroid_offset + n_cells))
        .select((F.col(id_col) - centroid_offset).alias("cell"),
                vec.alias("centv")).collect())
    if assign == "auto":
        assign = "literal" if n_cells <= arrow_threshold else "arrow"
    if assign == "arrow":
        assigned = _ivf_assign_arrow(
            emb.select(F.col(id_col).alias("vid"), vec.alias("v")),
            cent_rows, nprobe)
    else:
        assigned = _ivf_assign_literal(
            emb.select(F.col(id_col).alias("vid"), vec.alias("v")),
            cent_rows)
    base = assigned.select(F.col("vid").alias("cid"), F.col("v").alias("cv"),
                           F.element_at("cellrank", 1).alias("cell")) \
        .withColumn("cn", _norm(F.col("cv")))
    queries = (assigned.filter(F.col("vid") < n_queries)
               .select(F.col("vid").alias("qid"), F.col("v").alias("qv"),
                       F.explode(F.slice("cellrank", 1, nprobe))
                       .alias("cell"))
               .withColumn("qn", _norm(F.col("qv"))))
    pairs = base.join(F.broadcast(queries), "cell") \
        .filter(F.col("qid") != F.col("cid"))
    scored = _with_cosine(pairs)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("rank").cast("long").alias("rank"),
                    F.col("cid").alias("neighbor_id"),
                    F.round("cosine", 6).alias("cosine")))


def _ivf_assign_literal(emb_vv: DataFrame, cent_rows) -> DataFrame:
    """(vid, v) -> (vid, v, cellrank): cells ranked by (cosine desc, cell
    asc), centroids embedded as LITERAL array expressions so the whole
    assignment - n_cells cosines + ranking - runs map-side inside
    codegen: zero joins, zero shuffles, zero row blow-up. Suits small
    n_cells; see ivf_topk for the branch rationale."""
    import math
    norm_v = F.sqrt(_dot(F.col("v"), F.col("v")))
    cos_exprs = []
    for _cell, cv in cent_rows:
        cnorm = math.sqrt(sum(x * x for x in cv))
        cent = F.array(*[F.lit(x) for x in cv])
        # nanvl: a zero-norm vector or centroid yields NaN cosine; rank
        # it LAST (-1) deterministically. (NaN sorts greatest in an ORDER
        # BY but smallest-last in the (-c, cell) struct array_sort, so
        # without the guard degenerate inputs would assign differently
        # than a Window-based formulation.)
        cos_exprs.append(F.nanvl(
            _dot(F.col("v"), cent) / (norm_v * F.lit(cnorm)), F.lit(-1.0)))
    scored = emb_vv.withColumn("coses", F.array(*cos_exprs))
    # cells ordered by (cosine desc, cell asc): sort (-cos, cell) structs
    # ascending; ties break to the lowest cell exactly as the SQL oracle's
    # row_number() ORDER BY cos_c DESC, cell.
    return scored.withColumn("cellrank", F.expr(
        "transform(array_sort(transform(coses, (c, i) -> "
        "struct(-c as negc, i as cell))), s -> s.cell)")).drop("coses")


def _ivf_assign_arrow(emb_vv: DataFrame, cent_rows, nprobe: int) -> DataFrame:
    """(vid, v) -> (vid, v, cellrank): same contract as
    ``_ivf_assign_literal`` (cellrank truncated to the top nprobe cells -
    all any consumer reads) via one Arrow mapInPandas stage against a
    broadcast numpy centroid matrix. Constant plan size at any n_cells;
    still map-side with zero pre-probe shuffle. Stable argsort of -cos
    breaks exact-cosine ties to the lowest cell, matching the literal
    branch and the SQL oracle's ORDER BY cos DESC, cell."""
    import numpy as np
    import pandas as pd

    C = np.array([cv for _cell, cv in cent_rows], dtype=np.float64)
    Cn = np.sqrt((C * C).sum(axis=1))
    keep = max(int(nprobe), 1)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf["v"]])
            Vn = np.sqrt((V * V).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (V @ C.T) / (Vn[:, None] * Cn[None, :])
            cos = np.nan_to_num(cos, nan=-1.0)   # match the nanvl guard
            order = np.argsort(-cos, axis=1, kind="stable")[:, :keep]
            yield pd.DataFrame({
                "vid": pdf["vid"],
                "v": pdf["v"],
                "cellrank": [row.astype(np.int32) for row in order]})

    return emb_vv.mapInPandas(
        gen, "vid long, v array<double>, cellrank array<int>")


def _plane(seed: int, dim: int) -> list:
    """Deterministic +-1 hyperplane from md5(seed:i)."""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
    return out


def banded_signatures_arrow(emb: DataFrame, n_bands: int, band_planes: int,
                            dim: int, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """(id, band, bucket) hyperplane-LSH band rows, all
    ``n_bands * band_planes`` plane dot products computed in ONE Arrow
    batch pass: ``sign(V @ P.T)`` against a broadcast plane matrix
    (plane p = ``_plane(p, dim)``, so band b's bucket packs planes
    ``b*band_planes .. (b+1)*band_planes-1`` exactly like
    ``hyperplane_signature(seed_offset=b*band_planes)``).

    This replaces ``n_bands * band_planes`` separate
    aggregate(zip_with(...)) expression trees - at 32 planes x 64 dims
    the expression-tree formulation pays ~2k interpreted higher-order
    lambda calls per row, while one BLAS matmul per Arrow batch is
    near-free and the plan stays a single narrow stage (no shuffle, no
    per-row Python). Sign agreement with the SQL oracle's sequential
    list_sum is exact for any practically distinguishable dot product
    (a flip needs |dot| below summation-reorder rounding, ~1e-13)."""
    import numpy as np
    import pandas as pd

    P = np.array([_plane(p, dim) for p in range(n_bands * band_planes)],
                 dtype=np.float64)                       # (planes, dim)
    weights = (np.int64(1) << np.arange(band_planes, dtype=np.int64))

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            bits = (V @ P.T) > 0                         # (n, planes)
            ids = pdf[id_col].to_numpy()
            frames = []
            for b in range(n_bands):
                seg = bits[:, b * band_planes:(b + 1) * band_planes]
                frames.append(pd.DataFrame({
                    "id": ids,
                    "band": np.full(len(ids), b, dtype=np.int32),
                    "bucket": seg.astype(np.int64) @ weights}))
            yield pd.concat(frames, ignore_index=True)

    return emb.select(F.col(id_col).alias(id_col), vec_col) \
        .mapInPandas(gen, "id long, band int, bucket long")


def hyperplane_signature(emb: DataFrame, n_planes: int = 8, dim: int = 64,
                         vec_col: str = "embedding", seed_offset: int = 0):
    """n_planes-bit signature; plane p uses md5 seed ``seed_offset + p``
    (the offset gives banded LSH schemes independent plane sets)."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _plane(seed_offset + p, dim)])
        bit = F.when(_dot(vec, plane) > 0,
                     F.shiftleft(F.lit(1), p)).otherwise(0)
        sig = sig + bit
    return sig.alias("signature")


def hyperplane_lsh_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                        n_planes: int = 8, dim: int = 64,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    (equi-join on the signature instead of a full scan per query)."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    with_sig = emb.select(F.col(id_col), vec.alias("v"),
                          hyperplane_signature(emb, n_planes, dim, vec_col))
    base = with_sig.select(F.col(id_col).alias("cid"), F.col("v").alias("cv"),
                           F.col("signature").alias("csig")) \
        .withColumn("cn", _norm(F.col("cv")))
    queries = (with_sig.filter(F.col(id_col) < n_queries)
               .select(F.col(id_col).alias("qid"), F.col("v").alias("qv"),
                       F.col("signature").alias("qsig"))
               .withColumn("qn", _norm(F.col("qv"))))
    pairs = base.join(F.broadcast(queries),
                      (F.col("qsig") == F.col("csig"))
                      & (F.col("qid") != F.col("cid")))
    scored = _with_cosine(pairs)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("rank").cast("long").alias("rank"),
                    F.col("cid").alias("neighbor_id"),
                    F.round("cosine", 6).alias("cosine")))


def quantize_int8(emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column:
    per-vector scale = 127 / max|x|, codes = round-half-up(x * scale),
    plus the reconstruction sum-of-squared-error -> (id, n_dims, amax,
    codes, sse). THE storage/bandwidth lever for ANN at 100 TB: float32
    -> int8 is a 4x cut in both the shuffle bytes of every candidate
    join and the memory ceiling of any broadcast index; sse is the
    telemetry that says whether recall will survive it.

    Engine-exact by construction: all arithmetic runs in IEEE double
    (float->double casts are exact), rounding is ``floor(x + 0.5)``
    (identical semantics in Spark and DuckDB - F.round's HALF_UP and
    SQL round() differ on negative halves, so neither is used), and the
    fold over dimensions is array-ordered in both engines. A zero
    vector (amax = 0) quantizes to all-zero codes with sse 0 by the
    scale=0 guard. Pure per-row codegen expressions: no shuffle, no UDF,
    column-prunable. No counterpart in /root/reference."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    df2 = emb.select(F.col(id_col), v.alias("v"))
    amax = F.array_max(F.transform(F.col("v"), F.abs))
    df2 = df2.withColumn("amax", amax) \
        .withColumn("scale", F.when(F.col("amax") > 0,
                                    F.lit(127.0) / F.col("amax"))
                    .otherwise(F.lit(0.0)))
    scale = F.col("scale")
    codes = F.transform(
        F.col("v"), lambda x: F.floor(x * scale + F.lit(0.5)).cast("int"))

    def _err(x):
        d = x - F.floor(x * scale + F.lit(0.5)) / scale
        return F.when(scale > 0, d * d).otherwise(F.lit(0.0))

    sse = F.aggregate(F.col("v"), F.lit(0.0),
                      lambda acc, x: acc + _err(x))
    return df2.select(
        F.col(id_col),
        F.size("v").cast("long").alias("n_dims"),
        F.round("amax", 6).alias("amax"),
        codes.alias("codes"),
        F.round(sse, 6).alias("sse"))


def jl_project(emb: DataFrame, k: int = 16, dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               seed_offset: int = 1000, arrow: bool | None = None
               ) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a Rademacher
    (+-1) projection (Achlioptas 2003): reduced_j = dot(v, s_j) /
    sqrt(k), sign vector s_j = ``_plane(seed_offset + j, dim)`` - the
    same md5-parity construction as the LSH hyperplanes, so the planes
    are DRIVER-KNOWN constants reproducible by the SQL oracle and
    identical on every executor with no broadcast state.

    The embedding-pipeline shrink lever: 64 -> 16 dims cuts every
    downstream ANN shuffle and index 4x while JL preserves pairwise
    distances within (1 +- eps) w.h.p.; pairs with ``quantize_int8``
    for a 16x total reduction.

    Two branches, identical results (difference = float summation order,
    ~1e-15, absorbed by the 6dp rounding):
    * Arrow (the DEFAULT): one numpy ``V @ S.T`` per batch against the
      driver-known sign matrix - the banded_signatures_arrow lesson
      confirmed here by an in-session interleaved A/B at sf1.0 (50k x
      64 -> 16): Arrow median 0.74 s vs 5.37 s for the expression
      branch (7.3x) - 16 aggregate(zip_with) folds pay ~1k interpreted
      lambda calls per row.
    * expression (``arrow=False``): per output dim one
      aggregate(zip_with) fold over literal sign arrays - no Python
      workers anywhere; the option for Python-worker-starved clusters.
    No counterpart in /root/reference."""
    signs = [_plane(seed_offset + j, dim) for j in range(k)]
    root = float(k) ** 0.5
    if arrow is None:
        arrow = True
    if not arrow:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        cols = []
        for j in range(k):
            s = F.array(*[F.lit(x) for x in signs[j]])
            dot = F.aggregate(
                F.zip_with(v, s, lambda x, sj: x * sj),
                F.lit(0.0), lambda acc, x: acc + x)
            cols.append(F.round(dot / F.lit(root), 6))
        return emb.select(F.col(id_col), F.array(*cols).alias("reduced"))

    import numpy as np
    import pandas as pd
    S = np.array(signs, dtype=np.float64)                # (k, dim)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf[vec_col]])
            R = np.round((V @ S.T) / root, 6)            # (n, k)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                "reduced": list(R)})

    return emb.select(F.col(id_col), vec_col) \
        .mapInPandas(gen, f"{id_col} long, reduced array<double>")


def hyperplane_multiprobe_topk(emb: DataFrame, n_queries: int = 10,
                               k: int = 5, n_planes: int = 8,
                               dim: int = 64, n_probes: int | None = None,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> DataFrame:
    """Multi-probe LSH top-k (Lv et al. VLDB 2007): each query probes
    its own bucket PLUS the ``n_probes`` single-bit-flip neighbor
    buckets - the recall of many independent hash tables at the index
    cost of ONE. A near neighbor that lands one plane-sign away (the
    dominant miss mode: its dot product with exactly one plane sits
    near zero) is recovered by the flipped probe.

    Scale shape: probe expansion happens on the TINY query side only
    (n_queries x (n_probes+1) rows, broadcast); the corpus side keeps
    the single signature equi-join - same shuffle profile as the
    single-probe operator, strictly more recall. Probe signatures are
    distinct values, so no candidate duplicates arise."""
    if n_probes is None:
        n_probes = n_planes
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    with_sig = emb.select(F.col(id_col), vec.alias("v"),
                          hyperplane_signature(emb, n_planes, dim, vec_col))
    base = with_sig.select(F.col(id_col).alias("cid"),
                           F.col("v").alias("cv"),
                           F.col("signature").alias("csig")) \
        .withColumn("cn", _norm(F.col("cv")))
    probes = F.array(F.col("qsig"),
                     *[F.col("qsig").bitwiseXOR(F.lit(1 << f))
                       for f in range(n_probes)])
    queries = (with_sig.filter(F.col(id_col) < n_queries)
               .select(F.col(id_col).alias("qid"), F.col("v").alias("qv"),
                       F.col("signature").alias("qsig"))
               .withColumn("qn", _norm(F.col("qv")))
               .withColumn("psig", F.explode(probes)))
    pairs = base.join(F.broadcast(queries),
                      (F.col("psig") == F.col("csig"))
                      & (F.col("qid") != F.col("cid")))
    scored = _with_cosine(pairs)
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                          F.col("cid"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("rank").cast("long").alias("rank"),
                    F.col("cid").alias("neighbor_id"),
                    F.round("cosine", 6).alias("cosine")))


def mmr_rerank(cand: DataFrame, k: int = 10, lam: float = 0.7,
               id_col: str = "doc_id", rel_col: str = "rel",
               vec_col: str = "vec") -> DataFrame:
    """Maximal-marginal-relevance reranking (Carbonell & Goldstein,
    SIGIR 1998) of a candidate list -> (step, doc_id, mmr_score):
    greedily pick the candidate maximizing

        lam * rel(c) - (1 - lam) * max_{s in selected} sim(c, s)

    - the diversity-aware selection a curation / RAG pipeline runs
    AFTER retrieval (rrf_fuse / ANN top-k) so near-duplicate hits
    don't crowd the budget.

    Input contract: ``cand`` is a retrieval top-k list - broadcast-
    sized BY CONSTRUCTION (tens to low thousands of rows), never the
    corpus. The greedy recurrence is inherently sequential in k, so it
    runs as ONE executor-side Arrow batch (single-group
    applyInPandas): no per-step shuffle, no driver collect, and the
    cost is k scans of a k-sized similarity matrix computed once by
    numpy. Feeding a corpus-scale frame here is misuse; the operator
    fails fast above ``max_rows``.

    Determinism contract (both engines): rel and pairwise cosines are
    6dp-rounded BEFORE the greedy; each step's objective is the same
    two-multiply-one-subtract IEEE expression on those rounded doubles;
    ties break on the id ascending. Zero-norm candidate vectors pin
    sim = -1.0 (the _with_cosine guard's convention). step 1's
    objective is rel itself (nothing selected yet)."""
    max_rows = 10_000

    def greedy(pdf):
        import numpy as np
        import pandas as pd

        if len(pdf) > max_rows:
            raise ValueError(
                f"mmr_rerank got {len(pdf)} candidates (> {max_rows}); "
                "it reranks top-k lists, not corpora")
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        rel = pdf[rel_col].to_numpy(dtype=np.float64).round(6)
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = np.sqrt((V * V).sum(axis=1))
        denom = np.outer(n, n)
        with np.errstate(divide="ignore", invalid="ignore"):
            S = np.where(denom > 0, (V @ V.T) / denom, -1.0)
        # floor(x*1e6+0.5)/1e6, NOT .round(): numpy rounds half-even
        # and DuckDB half-away - they disagree exactly at 6dp
        # boundaries (the embedding_quantize lesson); floor(+0.5) is
        # the same IEEE expression on both engines
        S = np.floor(np.nan_to_num(S, nan=-1.0) * 1e6 + 0.5) / 1e6
        kk = min(k, len(ids))
        picked, scores = [], []
        avail = np.ones(len(ids), dtype=bool)
        for step in range(kk):
            if step == 0:
                obj = rel.copy()
            else:
                maxsim = S[:, picked].max(axis=1)
                obj = lam * rel - (1.0 - lam) * maxsim
            obj = np.where(avail, obj, -np.inf)
            # argmax returns the FIRST max: rows are id-sorted, so equal
            # objectives break toward the smaller id (= SQL
            # ORDER BY obj DESC, id LIMIT 1)
            j = int(np.argmax(obj))
            picked.append(j)
            import math
            scores.append(math.floor(float(obj[j]) * 1e6 + 0.5) / 1e6)
            avail[j] = False
        return pd.DataFrame({
            "step": np.arange(1, kk + 1, dtype=np.int64),
            "doc_id": ids[picked],
            "mmr_score": np.array(scores, dtype=np.float64)})

    out_schema = "step long, doc_id long, mmr_score double"
    # a bare F.lit in groupBy resolves as a GROUP BY ordinal under
    # Spark 4.1's hybrid analyzer - materialize the constant first
    return (cand.withColumn("_g", F.lit(1)).groupBy("_g")
            .applyInPandas(lambda pdf: greedy(pdf.drop(columns="_g")),
                           out_schema))


def mutual_nn_pairs(emb: DataFrame, n_planes: int = 8, dim: int = 64,
                    cap: int = 1000, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Reciprocal-nearest-neighbor pairs -> (id_a, id_b, cosine),
    id_a < id_b: emit (a, b) only when b is a's best in-bucket
    neighbor AND a is b's. Mutual-NN is the high-precision member of
    the embedding dedup family (used for cross-corpus alignment and
    translation-pair mining since Artetxe & Schwenk 2019 - margin
    criterion's strict parent): a one-directional NN merely says b is
    the least-far candidate from a; mutuality makes the match
    symmetric evidence.

    Candidate generation is hyperplane-LSH bucketing (the
    ann_lsh/simhash family): pairs form only INSIDE a signature
    bucket, and buckets above ``cap`` members are dropped before pair
    formation (the capped_bucket_pairs hot-bucket guard - at web
    scale a degenerate bucket would otherwise go quadratic; more
    planes or banding shrink buckets instead). Best-neighbor is an
    ARGMAX AGGREGATION over a struct of (6dp-rounded cosine,
    negated candidate id) - the ranked-float discipline, no per-pair
    window; mutuality is one self-equi-join of the n_docs-row best
    table."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    es = emb.select(F.col(id_col).alias("vid"), vec.alias("v"),
                    hyperplane_signature(emb, n_planes, dim, vec_col)) \
        .withColumn("n", _norm(F.col("v")))
    sizes = es.groupBy("signature").agg(F.count(F.lit(1)).alias("bn"))
    es = es.join(F.broadcast(sizes.filter(F.col("bn") <= cap)
                             .select("signature")), "signature")
    a = es.select(F.col("vid").alias("aid"), F.col("v").alias("qv"),
                  F.col("n").alias("qn"), "signature")
    b = es.select(F.col("vid").alias("bid"), F.col("v").alias("cv"),
                  F.col("n").alias("cn"), "signature")
    pairs = a.join(b, "signature").filter(F.col("aid") != F.col("bid"))
    scored = _with_cosine(pairs).withColumn(
        "cos6", F.round(F.col("cosine"), 6))
    best = (scored.groupBy("aid")
            .agg(F.max(F.struct(F.col("cos6"), (-F.col("bid"))
                                .alias("nbid"))).alias("m"))
            .select("aid", (-F.col("m.nbid")).alias("best_id"),
                    F.col("m.cos6").alias("cos6")))
    m2 = best.select(F.col("aid").alias("bb"),
                     F.col("best_id").alias("ba"))
    return (best.join(m2, (F.col("aid") == F.col("ba"))
                      & (F.col("best_id") == F.col("bb")))
            .filter(F.col("aid") < F.col("best_id"))
            .select(F.col("aid").alias("id_a"),
                    F.col("best_id").alias("id_b"),
                    F.col("cos6").alias("cosine")))


def maxsim_topk(docs: DataFrame, query_terms: list, k: int = 15,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Late-interaction MaxSim retrieval (the ColBERT scoring shape,
    Khattab-Zaharia 2020, over deterministic hashed token vectors):
    score(q, d) = sum over query tokens of max over doc tokens of
    cos(qv, tv) - token-level matching that rewards documents covering
    EVERY query facet, vs BM25's bag-sum. Token vectors here are the
    16-dim integer embedding x_i = 2*hexdigit_i(md5(term)) - 15 (odd,
    hence never the zero vector - no degenerate-norm guard needed),
    standing in for a learned encoder with the same join geometry; the
    SQL oracle replays them digit-for-digit.

    -> (rank, doc_id, score): top-k by (score desc, id). Cosines are
    integer-dot/sqrt(integer-norms) rounded 6dp BEFORE the max, the
    per-query maxes add in one fixed-order expression (never a float
    aggregation), and the final round(., 6) emits - engine-exact.

    Scale shape: vectors + per-query cosines compute ONCE at VOCAB
    cardinality (never per posting); distinct postings then join the
    vocab row (term-keyed equi-join) and one partial-agg groupBy takes
    the per-doc maxes; TakeOrderedAndProject emits k. The corpus-sized
    stage is the posting dedup, same as every indexer here."""
    import hashlib as _hl

    from .bm25 import tokenize
    postings = tokenize(docs, id_col, text_col).distinct()
    vocab = postings.select("term").distinct()
    h = F.md5(F.col("term"))
    dims = [(F.conv(F.substring(h, i + 1, 1), 16, 10).cast("long")
             * 2 - 15) for i in range(16)]
    tnorm2 = None
    for d in dims:
        tnorm2 = d * d if tnorm2 is None else tnorm2 + d * d
    cos_cols = []
    for qi, q in enumerate(query_terms):
        qv = [2 * int(c, 16) - 15
              for c in _hl.md5(q.encode()).hexdigest()[:16]]
        qn2 = sum(x * x for x in qv)
        dot = None
        for w, d in zip(qv, dims):
            t = d * F.lit(w)
            dot = t if dot is None else dot + t
        cos_cols.append(F.round(
            dot.cast("double") / F.sqrt((tnorm2 * qn2).cast("double")),
            6).alias(f"cos{qi}"))
    vv = vocab.select("term", *cos_cols)
    maxes = (postings.join(vv, "term")
             .groupBy("doc_id")
             .agg(*[F.max(f"cos{qi}").alias(f"m{qi}")
                    for qi in range(len(query_terms))]))
    score = None
    for qi in range(len(query_terms)):
        c = F.col(f"m{qi}")
        score = c if score is None else score + c
    scored = maxes.select("doc_id", F.round(score, 6).alias("score"))
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "doc_id", "score"))


def matryoshka_agreement(emb: DataFrame, dims=(8, 16, 32, 64),
                         n_queries: int = 10, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Embedding-truncation evaluation (Matryoshka representation
    check, Kusupati et al. 2022) -> (dim, query_id, top1_id, agree):
    for each prefix length, does brute-force cosine retrieval return
    the SAME top-1 neighbor as the full vector? The decision table
    behind storing truncated embeddings (4x-8x cheaper ANN index) - if
    agreement holds at dim 16, the 64-dim index is wasted money.

    Ranking determinism: cosine is 6dp-ROUNDED BEFORE the argmax with
    an id tie-break (the ivfpq contract), so the verdict table is
    engine-exact. Zero-norm prefixes (a vector whose first d entries
    are all 0) pin to cosine -1.0 via the shared guard.

    Scale shape: per dim, the query side (n_queries rows) is broadcast
    against one corpus stream - same geometry as brute_force_topk, 4
    passes (or one pass per dim of a sampled corpus at 100 TB; the
    metric is a sample statistic by nature)."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    full = max(dims)
    outs = []
    for d in dims:
        sl = F.slice(F.col("v"), 1, int(d))
        base = (emb.select(F.col(id_col).alias("cid"), vec.alias("v"))
                .select("cid", sl.alias("cv"))
                .withColumn("cn", _norm(F.col("cv"))))
        queries = (emb.filter(F.col(id_col) < n_queries)
                   .select(F.col(id_col).alias("qid"), vec.alias("v"))
                   .select("qid", sl.alias("qv"))
                   .withColumn("qn", _norm(F.col("qv"))))
        pairs = base.crossJoin(F.broadcast(queries)) \
            .filter(F.col("qid") != F.col("cid"))
        scored = _with_cosine(pairs).withColumn(
            "c6", F.round("cosine", 6))
        w = Window.partitionBy("qid").orderBy(F.col("c6").desc(),
                                              F.col("cid"))
        outs.append(scored.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .select(F.lit(int(d)).cast("long").alias("dim"),
                            F.col("qid").alias("query_id"),
                            F.col("cid").alias("top1_id")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    ref = (out.filter(F.col("dim") == full)
           .select("query_id", F.col("top1_id").alias("ref_id")))
    return (out.join(ref, "query_id")
            .select("dim", "query_id", "top1_id",
                    (F.col("top1_id") == F.col("ref_id"))
                    .alias("agree")))


def sign_words(emb: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Binary (sign) quantization of a float embedding into 32-bit
    BIGINT words -> (id, w0, w1, ...): bit i of word k is set iff
    element k*32+i is strictly positive. The 1-bit sketch behind
    binary-quantized vector search (a 32x memory cut vs float32 and a
    Hamming kernel that is two codegen'd bit_count(xor(..)) calls).

    Words are 32 bits each so no value ever touches the BIGINT sign
    bit - shift/xor/bit_count semantics stay identical across engines
    with zero negative-number edge cases. The > 0 comparison is exact
    on the raw float32, so the quantization is bit-reproducible."""
    assert dim % 32 == 0
    cols = [F.col(id_col)]
    for k in range(dim // 32):
        cols.append(F.expr(
            f"aggregate(zip_with(slice({vec_col}, {k * 32 + 1}, 32), "
            f"sequence(0, 31), (v, i) -> IF(v > 0, shiftleft(1L, i), "
            f"0L)), 0L, (a, b) -> a + b)").alias(f"w{k}"))
    return emb.select(*cols)


def hamming_topk(emb: DataFrame, n_queries: int = 10, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = 64) -> DataFrame:
    """Binary-quantized ANN -> (query_id, rank, neighbor_id, hamming):
    exact Hamming top-k over the sign sketch from :func:`sign_words`.
    The integer twin of :func:`brute_force_topk`: distances are pure
    BIGINT (bit_count over xor'd words), so ranking is bit-exact on
    any engine - no float rounding gate needed at all.

    Scale shape: the corpus streams ONCE past a broadcast query side
    (same broadcast-nested-loop contract as brute_force_topk), and the
    per-pair kernel is dim/32 codegen'd bit ops instead of a dim-long
    float fold - this is the cheap first pass that a re-ranking stage
    (exact cosine on the Hamming survivors) refines at 100 TB."""
    words = sign_words(emb, id_col, vec_col, dim)
    nw = dim // 32
    base = words.select(
        F.col(id_col).alias("cid"),
        *[F.col(f"w{k}").alias(f"c{k}") for k in range(nw)])
    queries = words.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"),
        *[F.col(f"w{k}").alias(f"q{k}") for k in range(nw)])
    ham = None
    for i in range(nw):
        t = F.bit_count(F.expr(f"q{i} ^ c{i}"))
        ham = t if ham is None else ham + t
    pairs = (base.crossJoin(F.broadcast(queries))
             .filter(F.col("qid") != F.col("cid"))
             .withColumn("hamming", ham.cast("long")))
    w = Window.partitionBy("qid").orderBy("hamming", "cid")
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("rank").cast("long").alias("rank"),
                    F.col("cid").alias("neighbor_id"), "hamming"))


def knn_shapley(emb: DataFrame, n_test: int = 10, k_nn: int = 5,
                topn: int = 10, id_col: str = "vec_id",
                vec_col: str = "embedding",
                label_col: str = "label") -> DataFrame:
    """Exact KNN-Shapley data valuation (Jia et al., VLDB 2019) ->
    (query_id, rank, train_id, shap_nano): each training vector's
    exact Shapley contribution to a K-NN classifier's accuracy on the
    held-out test points - THE closed-form data-valuation method
    (general Shapley is exponential; the K-NN surrogate admits an
    O(N log N) exact recurrence), used to find mislabeled / harmful
    training documents at corpus scale.

    The recurrence s_i = s_{i+1} + (m_i - m_{i+1}) / max(K, i) over
    train points sorted by distance (i = rank, m_i = label match) is
    a pure SUFFIX SUM, so it distributes as one window cumsum - no
    sequential replay, no recursion: the whole computation is two
    window passes over a broadcast-query scored table (the
    brute_force_topk shape). Contributions are lockstep BIGINT
    nano-units (sign * (1e9 div max(K, i)) - the positive-div rule),
    so the value surface is engine-exact; only the distance RANKING
    touches floats, 6dp-rounded with id tie-break like every ranked
    float surface here.
    """
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    test = (emb.filter(F.col(id_col) < n_test)
            .select(F.col(id_col).alias("qid"), vec.alias("qv"),
                    F.col(label_col).alias("qy")))
    train = (emb.filter(F.col(id_col) >= n_test)
             .select(F.col(id_col).alias("cid"), vec.alias("cv"),
                     F.col(label_col).alias("cy")))
    pairs = train.crossJoin(F.broadcast(test))
    d2 = F.round(F.expr(
        "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), "
        "0D, (acc, x) -> acc + x)"), 6)
    scored = pairs.select(
        "qid", "cid",
        F.when(F.col("cy") == F.col("qy"), F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("m"),
        d2.alias("d2"))
    w_near = Window.partitionBy("qid").orderBy("d2", "cid")
    part = Window.partitionBy("qid")
    ranked = scored.select(
        "qid", "cid", "m",
        F.row_number().over(w_near).cast("long").alias("i"),
        F.count(F.lit(1)).over(part).cast("long").alias("n"))
    w_far = Window.partitionBy("qid").orderBy(F.col("i").desc())
    w_rank = Window.partitionBy("qid").orderBy("i")
    term = F.when(
        F.col("i") == F.col("n"), F.lit(0).cast("long")).otherwise(
        (F.col("m") - F.lead("m", 1).over(w_rank)) *
        F.expr(f"1000000000L div greatest(CAST({int(k_nn)} AS BIGINT), i)"))
    stepped = ranked.withColumn("term", term)
    base = (F.max(F.when(F.col("i") == F.col("n"), F.col("m"))).over(part)
            * F.expr("1000000000L div n"))
    # s_i = s_N + sum_{j=i}^{N-1} term_j: a pure suffix sum, realized
    # as a running sum over the descending-rank window (term_N = 0)
    shap = (base
            + F.sum(F.when(F.col("i") < F.col("n"), F.col("term"))
                    .otherwise(F.lit(0))).over(
                w_far.rowsBetween(Window.unboundedPreceding, 0)))
    valued = stepped.withColumn("shap_nano", shap.cast("long"))
    w_top = Window.partitionBy("qid").orderBy(
        F.col("shap_nano").desc(), "cid")
    return (valued.withColumn("rank", F.row_number().over(w_top))
            .filter(F.col("rank") <= topn)
            .select(F.col("qid").alias("query_id"),
                    F.col("rank").cast("long").alias("rank"),
                    F.col("cid").alias("train_id"), "shap_nano"))


def planar_nearest_hub(points: DataFrame, hubs: DataFrame,
                       id_col: str = "doc_id") -> DataFrame:
    """Nearest-hub assignment census on an integer planar grid ->
    (hub, n_points, mean_d2, min_d2): every point joins its closest
    hub under exact squared Euclidean distance with (d2, hub)
    tie-break — geo partitioning / facility assignment / the 2-D
    special case of the IVF coarse-assign step, kept integer-pure
    (millidegree-scale coordinates; planar approximation by contract
    — this is the ANN assignment pattern, not geodesy).

    Scale shape: the hub table is model-sized -> broadcast cross
    join (k-fold map-side fanout, NO shuffle before the argmin);
    per-point argmin = min(struct(d2, hub)) inside a partial-
    aggregable groupBy; the census is hub-bounded. Integer budget:
    with |coord| <= 4*10^5 and n <= ~10^7 rows per partition-sum,
    sum(d2) stays far under 2^63; re-scale coordinates before
    summing at larger magnitudes (docstring contract)."""
    p = points.select(F.col(id_col).alias("pid"),
                      F.col("x").cast("long").alias("x"),
                      F.col("y").cast("long").alias("y"))
    h = hubs.select(F.col("hub").cast("long").alias("hub"),
                    F.col("hx").cast("long").alias("hx"),
                    F.col("hy").cast("long").alias("hy"))
    d2 = ((F.col("x") - F.col("hx")) * (F.col("x") - F.col("hx"))
          + (F.col("y") - F.col("hy")) * (F.col("y") - F.col("hy")))
    best = (p.crossJoin(F.broadcast(h))
            .select("pid", d2.alias("d2"), "hub")
            .groupBy("pid")
            .agg(F.min(F.struct("d2", "hub")).alias("m"))
            .select(F.col("m.hub").alias("hub"),
                    F.col("m.d2").alias("d2")))
    return (best.groupBy("hub")
            .agg(F.count(F.lit(1)).cast("long").alias("n_points"),
                 F.sum("d2").cast("long").alias("sum_d2"),
                 F.min("d2").cast("long").alias("min_d2"))
            .select("hub", "n_points",
                    F.expr("sum_d2 div n_points").alias("mean_d2"),
                    "min_d2"))


def grid_spatial_join(points: DataFrame, rects: DataFrame,
                      cell: int = 4096,
                      id_col: str = "pid") -> DataFrame:
    """Grid-bucketed point-in-rectangle spatial join -> (rect,
    n_points, sum_x): the 2-D generalization of the bucketed 1-D
    interval join (events_interval_join) — geofence counting,
    viewport queries, bbox containment — with the same no-BNLJ
    discipline: each rectangle replicates to every grid cell it
    overlaps (cell = coordinate div ``cell``, a bounded fanout by
    the caller's rect-size contract), points hash to exactly one
    cell, the join is a pure EQUI-join on (cx, cy), and the exact
    containment predicate filters after. A point inside a rectangle
    matches in exactly ONE cell (its own), so no post-join dedup is
    needed; the census is rect-bounded."""
    c = int(cell)
    p = points.select(F.col(id_col).alias("pid"),
                      F.col("x").cast("long").alias("x"),
                      F.col("y").cast("long").alias("y")) \
        .withColumn("cx", F.expr(f"x div {c}")) \
        .withColumn("cy", F.expr(f"y div {c}"))
    r = rects.select(F.col("rect").cast("long").alias("rect"),
                     F.col("x0").cast("long").alias("x0"),
                     F.col("y0").cast("long").alias("y0"),
                     F.col("x1").cast("long").alias("x1"),
                     F.col("y1").cast("long").alias("y1"))
    rc = (r.withColumn("cx", F.explode(F.expr(
              f"sequence(x0 div {c}, x1 div {c})")))
          .withColumn("cy", F.explode(F.expr(
              f"sequence(y0 div {c}, y1 div {c})"))))
    hits = (p.join(rc, ["cx", "cy"])
            .filter("x >= x0 AND x <= x1 AND y >= y0 AND y <= y1"))
    return (hits.groupBy("rect")
            .agg(F.count(F.lit(1)).cast("long").alias("n_points"),
                 F.sum("x").cast("long").alias("sum_x")))
