"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline, and a random-
hyperplane LSH bucketing as the scale path (bucket first — one narrow
projection — then search only within buckets).  Everything is native
Catalyst higher-order functions: ``zip_with`` + ``aggregate`` compute
dot products JVM-side with zero Python and zero shuffle per row;
the only wide ops are the final top-k window / bucket join.

Floats are cast to double before any arithmetic and cosines rounded
to 6 decimals so results are engine-portable (DuckDB oracle parity).
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, Window, functions as F

from wikiextractor_spark.operators.dedup import (
    _bucket_pairs,
    _check_survivors,
    _drop_losers,
    _flagged_left_ids,
    _subtract_flagged,
)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


def _rank_topk(scored: DataFrame, k: int, score: str = "cos") -> DataFrame:
    """Each query's top-``k`` rows by ``score`` (ties to the smaller
    ``neighbor_id``), numbered 1..k in ``rank`` — the one window
    top-k every search path here ends with."""
    w = Window.partitionBy("q_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_pairs(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    max_id: int = 50,
) -> DataFrame:
    """All-pairs cosine on a bounded id range: the exact verification
    grain (no threshold → no float-boundary flakiness; callers filter
    on the rounded value)."""
    small = emb.filter(F.col(id_col) < max_id).select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("v")
    )
    a, b = small.alias("a"), small.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
        )
    )


def ann_brute_force_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for a handful of query vectors.

    The query side is tiny ⇒ **broadcast** it; the big side streams
    through one narrow projection — the right 100 TB plan (one pass
    over the corpus, per-partition top-k via the window after AQE)."""
    base = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col("v").alias("q_v")
    )
    scored = (
        base.join(F.broadcast(queries), F.col(id_col) != F.col("q_id"))
        .select(
            "q_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("q_v"), F.col("v")), 6).alias("cos"),
        )
    )
    return _rank_topk(scored, k)


# --------------------------------------------------------------------------
# Random-hyperplane LSH (scale path)
# --------------------------------------------------------------------------

def hyperplanes(num_planes: int = 8, dim: int = 64, seed: int = 42) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from a tiny LCG — pure-Python so
    the exact same literals are inlined into BOTH the Spark plan and
    the DuckDB oracle SQL."""
    state = seed
    planes = []
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1 if (state >> 33) & 1 else -1)
        planes.append(row)
    return planes


def lsh_bucket(
    emb: DataFrame, num_planes: int = 8, dim: int = 64, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """→ ``(id, bucket int)``: sign-pattern of dot products with the
    fixed hyperplanes.  One narrow projection — embarrassingly
    parallel; at scale, follow with a join on ``bucket`` to search
    candidates only (same topology as minhash LSH).

    The planes live in ONE nested array literal (constant-folded) and
    the whole bucket is a single bound expression: the cast vector and
    the plane matrix are lambda-bound once, and the per-plane sign
    bits come from a transform over the matrix — one small codegen
    unit instead of r2's eight separate 64-literal dot-product trees
    (the Janino-compile cost PERF.md flagged at battery scale)."""
    expr = _lsh_bucket_sql(vec_col, hyperplanes(num_planes, dim, seed))
    return emb.select(F.col(id_col), F.expr(expr).alias("bucket"))


def _lsh_bucket_sql(vec_col: str, planes: list[list[int]]) -> str:
    """Sign-pattern bucket as ONE bound SQL expression: the plane
    matrix is a single constant-folded nested literal, the cast vector
    is lambda-bound once, and per-plane sign bits come from a
    transform over the matrix — one small codegen unit instead of
    N separate literal-array dot-product trees.  Arithmetic is
    identical to the r2 per-plane version (same double cast, same
    left-fold dot product, same `> 0` sign test, same 2^p weights), so
    oracle hashes are unchanged."""
    planes_sql = "array(%s)" % ", ".join(
        "array(%s)" % ", ".join(f"{float(x)}D" for x in plane)
        for plane in planes
    )
    # dimension guard, stated loudly: zip_with pads the shorter array
    # with NULLs, so a vector whose length differs from the plane dim
    # would make every dot-product NULL, every sign bit 0, and every
    # vector land in bucket 0 of every band — the (band, bucket)
    # equi-join then silently degenerates to an all-pairs product on a
    # constant key that no CartesianProduct plan pin can see.  The
    # guard is JVM-side, per-row O(1), and never fires on matching
    # dims, so oracle parity is untouched.
    # NULL arm FIRST: under ANSI size(NULL) is NULL, so without it a
    # NULL embedding would fall through the dim check into bucket 0
    # of every band — the same silent degeneracy.  A NULL vector gets
    # a NULL bucket instead: equi-joins drop NULL keys, so rows with
    # failed/missing embeddings simply never become candidates
    # (conservative keep — gate embedder failures upstream).
    dim = len(planes[0])
    return f"""
      CASE WHEN {vec_col} IS NULL THEN CAST(NULL AS INT)
      WHEN size({vec_col}) != {dim} THEN
        raise_error(concat('lsh bucket: expected {dim}-dim vector, got ',
                           size({vec_col}),
                           ' — pass dim= matching your embeddings'))
      ELSE
      transform(array(transform({vec_col}, x -> cast(x as double))), v ->
        aggregate(
          zip_with(
            transform({planes_sql}, p ->
              CASE WHEN aggregate(zip_with(v, p, (x, y) -> x * y),
                                  cast(0.0 as double),
                                  (acc, z) -> acc + z) > 0
                   THEN 1 ELSE 0 END),
            sequence(0, {len(planes) - 1}),
            (bit, i) -> bit * shiftleft(1, i)),
          0, (acc, z) -> acc + z)
      )[0]
      END
    """


def _embedding_band_sketch(
    emb: DataFrame, bands: int, planes_per_band: int, dim: int, seed: int,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Materialized ``(id, band, bucket)`` rows — the one embedding
    band sketch: ``bands`` hyperplane sets (seeded ``seed+b``) bucket
    every vector in ONE narrow pass, checkpointed as the barrier
    before ``dedup._bucket_pairs`` (see the ``dedup`` module
    docstring)."""
    band_structs = ", ".join(
        f"struct({b} AS band, "
        f"{_lsh_bucket_sql(vec_col, hyperplanes(planes_per_band, dim, seed + b))}"
        f" AS bucket)"
        for b in range(bands)
    )
    return (
        emb.select(
            F.col(id_col),
            F.explode(F.expr(f"array({band_structs})")).alias("bb"),
        )
        .select(id_col, "bb.band", "bb.bucket")
        .localCheckpoint(eager=True)
    )


def embedding_near_duplicate_pairs(
    emb: DataFrame, threshold: float = 0.98,
    bands: int = 4, planes_per_band: int = 8, dim: int = 64, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs at corpus grain — the
    sub-quadratic scale path behind the bounded ``dd_embedding_
    neighbor`` verifier.

    Topology mirrors banded MinHash-LSH (OR-amplification): ``bands``
    independent hyperplane sets (seeded ``seed+b``) each bucket every
    vector in ONE narrow pass; candidates are pairs sharing any
    (band, bucket) — one equi-join, never all-pairs (plan-tested) —
    and the exact cosine runs on candidates only, before the distinct
    so the dedup shuffle sees survivors.  Identical vectors share
    every band's bucket, so exact-duplicate recall is 1; near-dup
    recall rises with more bands / fewer planes per band (standard
    LSH tuning).

    → ``(id_a, id_b, cos)`` with ``cos >= threshold``.
    """
    sketch = _embedding_band_sketch(
        emb, bands, planes_per_band, dim, seed, id_col, vec_col
    )
    cand = _bucket_pairs(sketch, None, ("band", "bucket"), id_col)
    vecs = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    va = vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )


def dedup_embeddings(
    emb: DataFrame, threshold: float = 0.98, survivors: str = "chain",
    id_col: str = "vec_id", vec_col: str = "embedding", **lsh_kwargs,
) -> DataFrame:
    """Drop embedding near-duplicates, keeping one survivor per
    duplicate group — same survivor policies as ``dedup.dedup_near``
    (``'chain'``: one anti-join against smaller-id pair losers;
    ``'component'``: exactly one survivor per connected component via
    bounded min-label propagation), fed by the sub-quadratic
    banded-LSH candidate stage."""
    _check_survivors(survivors, ("chain", "component"))
    pairs = embedding_near_duplicate_pairs(
        emb, threshold, id_col=id_col, vec_col=vec_col, **lsh_kwargs
    )
    return _drop_losers(emb, pairs, id_col, survivors)


def lsh_bucket_histogram(emb: DataFrame, **kwargs) -> DataFrame:
    """Bucket occupancy — the skew diagnostic for the LSH index."""
    return (
        lsh_bucket(emb, **kwargs)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"))
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup: cluster, then dedup within clusters
# --------------------------------------------------------------------------

def semantic_dedup_pairs(
    emb: DataFrame, threshold: float = 0.95,
    n_clusters: int = 64, iters: int = 2,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Semantic near-dup pairs, SemDeDup-style (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means-cluster the embeddings (reusing the IVF
    coarse quantizer), then compare pairs WITHIN each cluster only.

    The published trade vs banded LSH
    (:func:`embedding_near_duplicate_pairs`): pair candidates come
    from ONE equi-join on ``centroid_id`` — cost Σ_c n_c² ≈ n²/k for
    balanced clusters, never all-pairs (plan-tested) — and
    cross-cluster near-dups are missed BY DESIGN (semantic duplicates
    embed close together, so they land in one cluster; the cluster
    boundary is the recall knob, ``n_clusters`` the cost knob).
    Identical vectors always share a cluster (assignment is a pure
    function of the vector), so exact-duplicate recall is 1.

    → ``(id_a, id_b, centroid_id, cos)`` with ``cos >= threshold``.
    """
    if not -1.0 <= threshold <= 1.0:
        raise ValueError(f"threshold must be in [-1, 1], got {threshold}")
    if centroids is None:
        centroids = ivf_centroids(emb, n_clusters, iters, id_col, vec_col)
    assigned = ivf_assign(emb, centroids, id_col, vec_col).localCheckpoint(
        eager=True  # barrier: the argmax scoring pass runs ONCE, not
        # once per self-join side after projection collapse
    )
    base = emb.join(assigned, id_col).select(
        F.col(id_col), F.col("centroid_id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    return (
        _bucket_pairs(
            base, None, ("centroid_id",), id_col,
            {"centroid_id": "centroid", "v": "v"},
        )
        .select(
            "id_a", "id_b",
            F.col("centroid_a").alias("centroid_id"),
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def semantic_dedup(
    emb: DataFrame, threshold: float = 0.95, survivors: str = "chain",
    id_col: str = "vec_id", vec_col: str = "embedding", **cluster_kwargs,
) -> DataFrame:
    """Drop semantic near-duplicates, keeping one survivor per group —
    the same survivor policies as :func:`dedup_embeddings` ('chain' /
    'component'), fed by the cluster-bounded pair stage.  At corpus
    scale pass ``centroids=`` trained once (or reuse a persisted IVF
    index's centroids via :func:`load_ivf_centroids`) so repeated runs
    never refit the quantizer."""
    _check_survivors(survivors, ("chain", "component"))
    pairs = semantic_dedup_pairs(
        emb, threshold, id_col=id_col, vec_col=vec_col, **cluster_kwargs
    )
    return _drop_losers(emb, pairs, id_col, survivors)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the centroid-bucketed scale path
# --------------------------------------------------------------------------

def _centroid_scores_sql(
    vec_col: str, centroids: list[list[float]], metric: str = "dot",
) -> str:
    """Per-centroid scores of a (cast) vector, as ONE bound expression
    over a folded nested literal (same codegen shape as lsh_bucket).

    ``metric="dot"``: plain dot products (the cosine/IVF path —
    centroids are unit-norm there, so argmax(dot) = argmin(angle)).
    ``metric="l2"``: ``v·c − ‖c‖²/2`` so that argmax equals argmin of
    the squared L2 distance ``‖v−c‖²`` (the ‖v‖² term is constant per
    row) — the assignment PQ codebooks need, where centroids are RAW
    subspace means, not unit vectors."""
    if metric == "dot":
        c_sql = "array(%s)" % ", ".join(
            "array(%s)" % ", ".join(f"{float(x)}D" for x in c)
            for c in centroids
        )
        return f"""
          transform(array(transform({vec_col}, x -> cast(x as double))), v ->
            transform({c_sql}, c ->
              aggregate(zip_with(v, c, (x, y) -> x * y),
                        cast(0.0 as double), (acc, z) -> acc + z))
          )[0]
        """
    if metric != "l2":
        raise ValueError(f"metric must be 'dot' or 'l2', got {metric!r}")
    c_sql = "array(%s)" % ", ".join(
        "named_struct('c', array(%s), 'b', %sD)" % (
            ", ".join(f"{float(x)}D" for x in c),
            0.5 * sum(float(x) * float(x) for x in c),
        )
        for c in centroids
    )
    return f"""
      transform(array(transform({vec_col}, x -> cast(x as double))), v ->
        transform({c_sql}, s ->
          aggregate(zip_with(v, s.c, (x, y) -> x * y),
                    cast(0.0 as double), (acc, z) -> acc + z) - s.b)
      )[0]
    """


def _normalize(vec: list[float]) -> list[float]:
    n = sum(x * x for x in vec) ** 0.5 or 1.0
    return [x / n for x in vec]


def ivf_centroids(
    emb: DataFrame, k: int = 16, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    metric: str = "cosine",
) -> list[list[float]]:
    """Train an IVF coarse quantizer: ``k`` centroids via Lloyd
    iterations, everything distributed except the k×dim centroid
    matrix itself (which is genuinely driver-sized — it IS the
    broadcast dimension of the index).

    ``metric="cosine"`` (default, the coarse-quantizer path):
    centroids are L2-NORMALIZED after seeding and after every mean
    update, and assignment is argmax of dot(v, c) — spherical
    k-means.  ``metric="l2"`` (the PQ-codebook path): centroids are
    RAW subspace means and assignment is argmin of L2 distance —
    plain Lloyd, minimizing reconstruction error the way Jégou 2011
    trains sub-codebooks.  Normalizing sub-codebooks would be wrong
    there: sub-vectors of unit-norm embeddings have norm ≪ 1, so
    unit-norm sub-centroids inflate every asymmetric partial dot
    ``q·ĉ`` by a per-vector-varying factor and distort PQ ranking.

    * init: the ``k`` vectors with the smallest ``md5(id)`` — a
      deterministic, engine-reproducible spread sample (no RNG, no
      seed drift across reruns/backfills);
    * assign: one NARROW pass per iteration — argmax of dot(v, c)
      against the folded centroid literal, no join, no shuffle;
    * update: per-cluster elementwise mean via ``posexplode`` +
      one groupBy — the only shuffle, on (cluster, position) grain.

    Returns plain Python lists (normalized) so callers can inline
    them as literals into search/assign expressions.
    """
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1, iters >= 0, got {k}/{iters}")
    if metric not in ("cosine", "l2"):
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    score_metric = "dot" if metric == "cosine" else "l2"
    shape = _normalize if metric == "cosine" else list
    base = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    seed_rows = (
        base.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(k)
        .select("v")
        .collect()
    )
    centroids = [shape(list(r["v"])) for r in seed_rows]
    if not centroids:
        # an empty centroid literal would otherwise surface as an
        # inscrutable VOID-type analyzer error deep in the score expr
        raise ValueError(
            "ivf_centroids: the corpus has no vectors to train on"
        )
    return _lloyd_iters(base, centroids, iters, metric)


def _lloyd_iters(
    base: DataFrame, centroids: list[list[float]], iters: int,
    metric: str,
) -> list[list[float]]:
    """The Lloyd update loop of :func:`ivf_centroids`, factored out
    (r16) so :func:`train_pq` can seed all m subspaces from ONE
    driver collect and still run the identical per-subspace loop.
    ``base`` must carry the vector as a double-array column ``v``;
    ``centroids`` is the (already shaped) seed set.  Behavior is
    byte-for-byte the former in-line loop."""
    score_metric = "dot" if metric == "cosine" else "l2"
    shape = _normalize if metric == "cosine" else list
    # fewer vectors than k: every vector becomes its own centroid
    # (the quantizer degenerates gracefully instead of erroring)
    for _ in range(iters):
        scores = _centroid_scores_sql("v", centroids, metric=score_metric)
        assigned = base.withColumn("_s", F.expr(scores)).select(
            "v",
            (F.expr("array_position(_s, array_max(_s))") - 1).alias("_c"),
        )
        means = (
            assigned.select("_c", F.posexplode("v").alias("_p", "_x"))
            .groupBy("_c", "_p")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("_c")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_p", "_m"))
                ).alias("_pm")
            )
            .select("_c", F.expr("transform(_pm, s -> s._m)").alias("_mean"))
            .collect()
        )
        new = list(centroids)
        for r in means:  # empty clusters keep their old centroid
            new[int(r["_c"])] = shape(list(r["_mean"]))
        centroids = new
    return centroids


def ivf_assign(
    emb: DataFrame, centroids: list[list[float]],
    id_col: str = "vec_id", vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """→ ``(id, centroid_id)``: nearest-centroid bucket per vector —
    one narrow scan-speed pass (the index build).  ``keep_vec=True``
    carries the vector through (``(id, centroid_id, vec)``) so a
    consumer that needs both — the partitioned index write — gets
    them from THIS pass instead of joining the assignment back to the
    corpus (an avoidable corpus-grain shuffle)."""
    scores = _centroid_scores_sql(vec_col, centroids)
    carried = [F.col(vec_col)] if keep_vec else []
    return (
        emb.withColumn("_s", F.expr(scores))
        .select(
            F.col(id_col),
            (F.expr("array_position(_s, array_max(_s))") - 1)
            .cast("int")
            .alias("centroid_id"),
            *carried,
        )
    )


def _probe_centroids(vec_col: str, centroids: list[list[float]], nprobe: int):
    """``q_centroid``: the ``nprobe`` centroids with the largest dot
    product against ``vec_col`` (ties to the smaller index), exploded
    one per row — the one probe selection behind every IVF search."""
    scores = _centroid_scores_sql(vec_col, centroids)
    return F.explode(
        F.expr(
            f"slice(transform(array_sort(zip_with({scores}, "
            f"sequence(0, {len(centroids) - 1}), "
            f"(s, i) -> struct(-s AS negs, i AS i))), "
            f"p -> p.i), 1, {nprobe})"
        )
    ).alias("q_centroid")


def ann_ivf_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, nprobe: int = 4,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 16, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: score only vectors whose centroid bucket
    is among each query's ``nprobe`` nearest centroids.

    Plan shape: the corpus gets ONE narrow assignment pass, the
    (query, probe-bucket) side is tiny and **broadcast**, and the only
    join is an equi-join on ``centroid_id`` — never a cross join over
    the corpus (plan-tested).  Work per query ≈ nprobe/k of the
    corpus; recall < 1 by construction — compare
    :func:`ann_brute_force_topk`, tune (n_centroids, nprobe).
    """
    if centroids is None:
        centroids = ivf_centroids(emb, n_centroids, iters, id_col, vec_col)
    # one projection carries the assignment AND the vector — joining
    # an (id, centroid_id) projection back to the corpus would scan it
    # twice more and add a corpus-grain join
    base = ivf_assign(emb, centroids, id_col, vec_col, keep_vec=True).select(
        F.col(id_col), F.col("centroid_id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    probes = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col("v").alias("q_v"),
        _probe_centroids("v", centroids, nprobe),
    )
    scored = (
        base.join(
            F.broadcast(probes),
            (F.col("centroid_id") == F.col("q_centroid"))
            & (F.col(id_col) != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("q_v"), F.col("v")), 6).alias("cos"),
        )
    )
    return _rank_topk(scored, k)


def ann_lsh_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5,
    num_planes: int = 8, dim: int = 64, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, so
    the scan joins on ``bucket`` instead of cross-joining the corpus.
    Recall < 1 by construction; compare with ann_brute_force_topk."""
    planes = hyperplanes(num_planes, dim, seed)
    base = emb.select(
        F.col(id_col),
        F.expr(_lsh_bucket_sql(vec_col, planes)).alias("bucket"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    queries = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("v").alias("q_v"),
    )
    scored = (
        base.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("q_bucket")) & (F.col(id_col) != F.col("q_id")),
        )
        .select(
            "q_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("q_v"), F.col("v")), 6).alias("cos"),
        )
    )
    return _rank_topk(scored, k)


def ann_topk_blas(
    emb: DataFrame, query_ids: list[int], k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k, same semantics as :func:`ann_brute_force_topk`,
    computed as one BLAS matmul per Arrow batch via ``mapInPandas``.

    Dense linear algebra is the one workload where the native path
    loses: ``zip_with`` + ``aggregate`` evaluates interpreted per
    element, while ``(batch × dim) @ (dim × q)`` runs vectorized.
    Each Arrow batch scores every query against its rows at once and
    keeps only its LOCAL top-k, so the per-batch output is q·k rows —
    the global window then ranks ~(n_batches · q · k) candidates
    instead of n·q scored rows, and the corpus still streams through
    in one narrow pass with the query matrix shipped in the task
    closure (a few KB).  Keeping the local top-k per batch is what
    makes this the 100 TB shape: shuffle volume is independent of
    corpus size.

    Exactness: cosines are float64 and rounded to 6 decimals like the
    JVM path; BLAS summation order differs from the sequential
    ``aggregate``, so ulp-level differences can appear BELOW the
    rounding digit (tests pin equality on this data)."""
    import numpy as np
    import pandas as pd

    q_rows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def score_batches(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            cos = (v @ q_mat.T) / np.outer(np.linalg.norm(v, axis=1), q_norm)
            cos = np.round(cos, 6)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(q_ids)):
                col = cos[:, qi]
                mask = ids != q_ids[qi]  # a vector is not its own neighbor
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) > k:
                    # local top-k with the SAME tie-break as the window
                    # (cos desc, neighbor_id asc): lexsort ascending on
                    # (-cos, id), take the first k
                    order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:k]
                    cand_idx = cand_idx[order]
                out_q.extend([int(q_ids[qi])] * len(cand_idx))
                out_n.extend(ids[cand_idx].tolist())
                out_c.extend(col[cand_idx].tolist())
            yield pd.DataFrame(
                {"q_id": out_q, "neighbor_id": out_n, "cos": out_c}
            )

    scored = emb.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        score_batches, schema="q_id long, neighbor_id long, cos double"
    )
    return _rank_topk(scored, k)


# --------------------------------------------------------------------------
# Persisted IVF index: build once, probe many
# --------------------------------------------------------------------------

def _write_driver_parquet(spark, path: str, arrow_table, spark_df) -> None:
    """Persist a DRIVER-sized artifact (centroid matrix, PQ
    codebooks): with pyarrow directly when ``path`` RESOLVES to the
    local filesystem — a Spark write of a few local rows pays the
    full FileFormatWriter job + commit rounds (measured 1.4-4.4 s of
    pure overhead on local[8..32]) for no distribution benefit — and
    with the Spark writer otherwise (it speaks every Hadoop
    filesystem).  Resolution goes through the Hadoop FS layer — a
    scheme-less path means fs.defaultFS, which on a real cluster is
    HDFS/S3; a regex on the string would mis-route that case to the
    driver's local disk.  ``arrow_table``/``spark_df`` are thunks so
    the losing path is never built.

    Overwrite semantics on the local path: the directory is cleared
    first — a stale part file alongside the new one would make the
    loader read the union, silently wrong."""
    import os
    import re
    import shutil

    from wikiextractor_spark.fsutil import hadoop_fs

    jpath, fs = hadoop_fs(spark, path)
    if fs.getScheme() == "file":
        import pyarrow.parquet as pq

        cdir = re.sub("^file:/+", "/", jpath.toString())
        shutil.rmtree(cdir, ignore_errors=True)
        os.makedirs(cdir)
        pq.write_table(arrow_table(), f"{cdir}/part-00000.parquet")
    else:
        from wikiextractor_spark.functions.modelio import write_one_file

        write_one_file(spark_df(), path)


def build_ivf_index(
    emb: DataFrame, index_dir: str, k: int = 16, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    pq: dict | None = None, sq: bool = False,
) -> list[list[float]]:
    """Train the IVF coarse quantizer and PERSIST the index:

    * ``<index_dir>/centroids`` — the k×dim centroid matrix (one
      tiny parquet file);
    * ``<index_dir>/vectors``  — every corpus vector with its
      assignment, hive-partitioned by ``centroid_id``;
    * with ``pq={...}`` (keys ``m``/``k``/``iters``, defaults
      16/16/2): ``<index_dir>/pq_books`` — the trained sub-codebooks
      (driver-sized, like the centroids) — and a ``codes`` column in
      the vectors table, so a PQ-scored probe
      (:func:`ann_ivf_search_vectors` ``use_pq=True``) reads m ints
      per row off disk instead of the dim-float vector: at 100 TB
      THAT is the point of PQ — the 64× cut reaches the serving
      scan's bytes-read, not just an in-memory re-encode;
    * with ``sq=True``: ``<index_dir>/sq_codec`` — the per-dimension
      affine int8 codec (driver-sized: 2·dim floats) — and an
      ``sq_codes array<tinyint>`` column in the vectors table, so an
      SQ-scored probe (``use_sq=True``) reads dim BYTES per row off
      disk: the 4× near-exact-recall tier between raw vectors and PQ.
      ``pq=`` and ``sq=True`` compose freely (each adds its own
      column; serving picks one per call).

    The partitioning is the scale payoff: a probe touches only its
    ``nprobe`` centroid partitions of the corpus — at 100 TB the
    difference between reading nprobe/k of the data and all of it —
    and the one-time build cost (train + assign + one partitioned
    write) amortizes over every subsequent query batch, instead of
    re-training and re-assigning per call the way the in-memory
    :func:`ann_ivf_topk` does.  Returns the trained centroids."""
    from wikiextractor_spark.fsutil import hadoop_fs

    spark = emb.sparkSession
    if pq is not None:
        unknown = set(pq) - {"m", "k", "iters"}
        if unknown:
            # a typo'd key (k_sub, n_bits, ...) silently falling back
            # to defaults would train the wrong codebooks with no
            # error — every other contract in this module raises
            raise ValueError(
                f"build_ivf_index: unknown pq keys {sorted(unknown)} "
                "— valid: m, k, iters"
            )
    # r16 optimization (guide §2.6): the coarse-quantizer, PQ, and SQ
    # trainings are independent reads of the corpus (train_pq needs
    # only the DIMENSION from the coarse result, and derives it from
    # its own seed collect just as well), each a string of small
    # driver-blocking jobs — so they overlap on threads instead of
    # running in sequence.  Every training is unchanged; only the
    # scheduling moved.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as _pool:
        _f_cent = _pool.submit(
            ivf_centroids, emb, k, iters, id_col, vec_col
        )
        _f_books = (
            _pool.submit(
                train_pq, emb, m=pq.get("m", 16), k=pq.get("k", 16),
                iters=pq.get("iters", 2), id_col=id_col,
                vec_col=vec_col, dim=None,
            )
            if pq is not None
            else None
        )
        _f_codec = _pool.submit(train_sq, emb, vec_col) if sq else None
        centroids = _f_cent.result()
        books = _f_books.result() if _f_books is not None else None
        codec = _f_codec.result() if _f_codec is not None else None
    # ONE pass scores and carries the vector (keep_vec) — joining a
    # separate (id, centroid_id) projection back to the corpus would
    # re-scan it and add a corpus-grain join for nothing; the PQ/SQ
    # codes ride the same pass (narrow expressions over the carried
    # vector)
    assigned = ivf_assign(emb, centroids, id_col, vec_col, keep_vec=True)
    if books is not None:
        assigned = assigned.withColumn(
            "codes", F.expr(_pq_codes_sql(vec_col, books))
        )
    if codec is not None:
        assigned = assigned.withColumn(
            "sq_codes", F.expr(_sq_codec_sql(vec_col, codec))
        )
    (
        # hash-cluster on the partition key before the partitioned
        # write: without this, partitionBy emits one file per
        # (task × centroid) pair — num_tasks tiny files in EVERY
        # centroid directory at any scale; with it, each directory
        # gets at most a few task-sized files and the probe's pruned
        # reads open bounded file counts
        assigned.repartition(F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{index_dir}/vectors")
    )
    def _centroids_arrow():
        import pyarrow as pa

        return pa.table(
            {
                "centroid_id": pa.array(range(len(centroids)), pa.int32()),
                "centroid": pa.array(centroids, pa.list_(pa.float64())),
            }
        )

    _write_driver_parquet(
        spark,
        f"{index_dir}/centroids",
        _centroids_arrow,
        lambda: spark.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)],
            "centroid_id int, centroid array<double>",
        ),
    )
    if books is not None:
        flat = [
            (j, c, list(map(float, vec)))
            for j, book in enumerate(books)
            for c, vec in enumerate(book)
        ]

        def _books_arrow():
            import pyarrow as pa

            return pa.table(
                {
                    "subspace": pa.array([r[0] for r in flat], pa.int32()),
                    "code": pa.array([r[1] for r in flat], pa.int32()),
                    "centroid": pa.array(
                        [r[2] for r in flat], pa.list_(pa.float64())
                    ),
                }
            )

        _write_driver_parquet(
            spark,
            f"{index_dir}/pq_books",
            _books_arrow,
            lambda: spark.createDataFrame(
                flat, "subspace int, code int, centroid array<double>"
            ),
        )
    else:
        # a REBUILD without pq= must not leave a previous build's
        # codebooks behind: load_pq_books would report the raw-vector
        # index as PQ-carrying, the use_pq fail-fast guard would
        # pass, and ivf_index_add would encode appends against stale
        # books into a table whose base rows carry no codes
        jbooks, bfs = hadoop_fs(spark, f"{index_dir}/pq_books")
        if bfs.exists(jbooks):
            bfs.delete(jbooks, True)
    if codec is not None:
        flat_sq = [
            (p, float(lo), float(st)) for p, (lo, st) in enumerate(codec)
        ]

        def _codec_arrow():
            import pyarrow as pa

            return pa.table(
                {
                    "dim": pa.array([r[0] for r in flat_sq], pa.int32()),
                    "lo": pa.array([r[1] for r in flat_sq], pa.float64()),
                    "step": pa.array([r[2] for r in flat_sq], pa.float64()),
                }
            )

        _write_driver_parquet(
            spark,
            f"{index_dir}/sq_codec",
            _codec_arrow,
            lambda: spark.createDataFrame(
                flat_sq, "dim int, lo double, step double"
            ),
        )
    else:
        # same stale-artifact rule as pq_books: a rebuild without
        # sq= must not leave a previous build's codec claiming the
        # raw-vector table carries sq_codes
        jcodec, cfs = hadoop_fs(spark, f"{index_dir}/sq_codec")
        if cfs.exists(jcodec):
            cfs.delete(jcodec, True)
    # ANY rebuild invalidates the streaming ingest ledger: micro-batch
    # numbering restarts with a fresh checkpoint, and a stale ledger
    # would make streaming/annindex silently skip the new stream's
    # first batches as "already applied"
    jlog, lfs = hadoop_fs(spark, f"{index_dir}/ingest_log")
    if lfs.exists(jlog):
        lfs.delete(jlog, True)
    # id→centroid lookup, RANGE-sorted on the id so a probe's
    # isin(query_ids) filter prunes to a few row groups via parquet
    # min-max stats — the query-vector fetch never scans the (much
    # wider) vectors table.  Derived by READING BACK the just-written
    # vectors parquet (column-pruned to the two narrow columns), not
    # by re-running the full-corpus centroid-scoring assignment a
    # second time.
    (
        spark.read.parquet(f"{index_dir}/vectors")
        .select(F.col(id_col), F.col("centroid_id"))
        .repartitionByRange(8, F.col(id_col))
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .parquet(f"{index_dir}/assignments")
    )
    return centroids


_UNSET = object()

#: "This index verifiably carries no such artifact" — for REPEAT
#: callers (the streaming ingest loop) that loaded the index's
#: artifacts once at start-of-run under the frozen-index contract:
#: passing this to ``ivf_index_add``'s ``books``/``sq`` behaves like
#: ``None`` but SKIPS the explicit-None safety probe, so steady-state
#: appends make zero artifact filesystem round trips per batch.
#: One-off callers should keep passing ``None`` (probed) or omitting
#: the argument (auto-load).
VERIFIED_ABSENT = object()


def ivf_index_add(
    spark, index_dir: str, new_emb: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    books=_UNSET, sq=_UNSET,
) -> None:
    """Append new vectors to a PERSISTED IVF index without retraining
    the quantizer or rewriting existing partitions — the incremental
    path for a growing corpus (new crawl snapshots indexed nightly
    against centroids trained once).

    The new batch is assigned against the STORED centroids (one
    narrow scoring pass), append-written into its centroid partitions
    (clustered first, so each touched directory gains a bounded file
    count), and appended to the id→centroid assignments lookup (each
    appended file is itself range-sorted on the id, so per-file
    row-group min-max pruning keeps working for probe lookups).
    Centroid directories that were empty at build time are created on
    first use — the probe's explicit listing picks them up
    automatically.  On a PQ-carrying index the new vectors are
    encoded against the STORED codebooks (frozen, like the
    centroids — code drift is the same retrain signal).
    Quantization quality drifts as the corpus grows
    away from the trained centroids; retrain + rebuild when the
    cluster-size histogram (:func:`ivf_index_stats`) skews.

    ``centroids``/``books``/``sq``: the stored artifacts, passable
    by callers that add REPEATEDLY against one frozen index (the
    streaming ingest loop) so each batch skips the artifact
    re-reads; ``books=None``/``sq=None`` mean "no PQ"/"no SQ"
    explicitly (verified against the stored artifacts — a wrong
    assertion raises); :data:`VERIFIED_ABSENT` is the probe-free
    variant for repeat callers; omit the arguments to auto-load."""
    if centroids is None:
        centroids = load_ivf_centroids(spark, index_dir)
    if books is _UNSET:
        books = load_pq_books(spark, index_dir)
    elif books is VERIFIED_ABSENT:
        books = None
    elif books is None and load_pq_books(spark, index_dir) is not None:
        # mirrors the build's stale-books fail-fast: appending
        # code-less rows to a PQ-carrying index makes a mixed-schema
        # vectors table whose rows NULL-score in use_pq probes and
        # silently vanish from every PQ result
        raise ValueError(
            "ivf_index_add: books=None would append code-less rows to "
            f"a PQ-carrying index ({index_dir}) — omit the argument to "
            "auto-load the stored codebooks"
        )
    if sq is _UNSET:
        sq = load_sq_codec(spark, index_dir)
    elif sq is VERIFIED_ABSENT:
        sq = None
    elif sq is None and load_sq_codec(spark, index_dir) is not None:
        # same mixed-schema hazard as books=None, for the SQ column
        raise ValueError(
            "ivf_index_add: sq=None would append code-less rows to "
            f"an SQ-carrying index ({index_dir}) — omit the argument "
            "to auto-load the stored codec"
        )
    assigned = ivf_assign(new_emb, centroids, id_col, vec_col).localCheckpoint(
        eager=True  # one scoring pass, reused by both writes below
    )
    # the checkpoint just materialized the batch, so this emptiness
    # probe is a driver-side block read, not a job — empty appends
    # (replayed empty stream epochs) skip both writes entirely
    if not assigned.take(1):
        return
    appended = new_emb.join(assigned, id_col).select(
        F.col(id_col), F.col("centroid_id"), F.col(vec_col)
    )
    if books is not None:
        appended = appended.withColumn(
            "codes", F.expr(_pq_codes_sql(vec_col, books))
        )
    if sq is not None:
        appended = appended.withColumn(
            "sq_codes", F.expr(_sq_codec_sql(vec_col, sq))
        )
    # r16 optimization (guide §2.6): the vectors append and the
    # assignments append are independent writes to disjoint
    # directories off the same materialized batch — overlap them on
    # threads.  Both still complete before the caller's ledger
    # commit (add_embeddings_batch), so the delivery contract's
    # ordering (data first, ledger last) is unchanged.
    from concurrent.futures import ThreadPoolExecutor

    def _append_vectors():
        (
            appended.repartition(F.col("centroid_id"))
            .write.mode("append")
            .partitionBy("centroid_id")
            .parquet(f"{index_dir}/vectors")
        )

    def _append_assignments():
        (
            assigned.select(F.col(id_col), F.col("centroid_id"))
            .repartitionByRange(8, F.col(id_col))
            .sortWithinPartitions(id_col)
            .write.mode("append")
            .parquet(f"{index_dir}/assignments")
        )

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fv = _pool.submit(_append_vectors)
        _fa = _pool.submit(_append_assignments)
        _fv.result()
        _fa.result()


def ivf_index_stats(spark, index_dir: str) -> DataFrame:
    """→ ``(centroid_id, n_vectors)`` per partition of a persisted
    index — the health/skew diagnostic that decides when incremental
    adds have drifted far enough to retrain (a handful of giant
    clusters means probes re-read most of the corpus; many empties
    mean wasted directories).  Scans only the two narrow index
    columns, never the vectors."""
    return (
        spark.read.parquet(f"{index_dir}/assignments")
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_vectors"))
    )


def _compaction_repair(spark, index_dir: str) -> None:
    """Recover from a crash mid-:func:`compact_ivf_index`: any unit
    retired under ``.compact_retired/`` whose live directory is
    missing is renamed back (crash between retire and promote), any
    retired unit whose live directory exists is deleted (crash after
    promote), and ``.compact_tmp/`` leftovers are removed.  Every
    state the protocol can crash in resolves to a complete index."""
    from wikiextractor_spark.fsutil import hadoop_fs

    jvm = spark._jvm
    retired_root, fs = hadoop_fs(spark, f"{index_dir}/.compact_retired")
    if fs.exists(retired_root):
        for st in fs.listStatus(retired_root):
            rel = st.getPath().getName()
            if rel == "vectors" and st.isDirectory():
                # vectors partitions retire one level deeper
                for sub in fs.listStatus(st.getPath()):
                    live = jvm.org.apache.hadoop.fs.Path(
                        f"{index_dir}/vectors/{sub.getPath().getName()}"
                    )
                    if fs.exists(live):
                        fs.delete(sub.getPath(), True)
                    elif not fs.rename(sub.getPath(), live):
                        # an unchecked failure here would silently
                        # leave the partition MISSING from the index
                        raise IOError(
                            "compact_ivf_index repair: restore rename "
                            f"failed for {live}"
                        )
            else:
                live = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{rel}")
                if fs.exists(live):
                    fs.delete(st.getPath(), True)
                elif not fs.rename(st.getPath(), live):
                    raise IOError(
                        "compact_ivf_index repair: restore rename "
                        f"failed for {live}"
                    )
        fs.delete(retired_root, True)
    tmp_root, _ = hadoop_fs(spark, f"{index_dir}/.compact_tmp")
    if fs.exists(tmp_root):
        fs.delete(tmp_root, True)


def _content_fingerprints(df: DataFrame, cols: list[str]) -> dict:
    """``centroid_id -> (count, xor of row hashes)`` — order-free
    row-set fingerprint used to prove a compaction rewrite preserved
    every row before the swap (count catches cardinality changes,
    the xor catches same-cardinality substitutions)."""
    rows = (
        df.groupBy("centroid_id")
        .agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("x"),
        )
        .collect()
    )
    return {int(r["centroid_id"]): (r["n"], r["x"]) for r in rows}


def compact_ivf_index(
    spark, index_dir: str, min_files: int = 8,
) -> int:
    """Rewrite fragmented partitions of a persisted IVF index back to
    the build's one-file-per-partition layout — the maintenance pass
    a long-lived :func:`~wikiextractor_spark.streaming.annindex.
    index_embeddings_stream` needs, since every micro-batch appends
    one file per touched ``centroid_id=`` directory (and one to
    ``assignments``), so probe open/seek cost otherwise grows with
    stream lifetime, not corpus size.

    OFFLINE maintenance, single writer: stop the ingest stream first
    (the store's standing single-writer contract) — a concurrent add
    could land between a partition's fingerprint and its swap and be
    lost; concurrent probes can observe a partition mid-swap.  Every
    rewritten unit is verified against the live data (per-partition
    row count + order-free xor of full-row hashes) BEFORE any swap,
    and the swap itself is rename-based with retire-then-promote
    ordering, so a crash at any point leaves either the old or the
    new complete data recoverable — :func:`_compaction_repair` (run
    automatically at the start of every compaction) restores the
    index; it never loses or duplicates rows.

    One shuffle job rewrites ALL fragmented vector partitions (not a
    job per directory — at thousands of centroids that would be
    thousands of tiny jobs); ``assignments`` is rewritten as one unit
    preserving its id-range-sorted file layout.  The ingest ledger is
    NOT touched (it has its own
    :func:`~wikiextractor_spark.streaming.annindex.compact_ingest_log`
    and is coupled to checkpoint lineage).  Returns the number of
    units (partitions + assignments) compacted."""
    from wikiextractor_spark.fsutil import hadoop_fs, int_partition_dirs

    jvm = spark._jvm
    root, fs = hadoop_fs(spark, index_dir)
    if not fs.exists(root):
        raise ValueError(f"compact_ivf_index: no index at {index_dir!r}")
    _compaction_repair(spark, index_dir)

    def _n_files(path: str) -> int:
        p = jvm.org.apache.hadoop.fs.Path(path)
        return sum(
            1
            for st in fs.listStatus(p)
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        )

    def _swap(live: str, tmp: str, retired: str) -> None:
        # the retired entry is NOT deleted here: a retired unit whose
        # live directory exists is exactly what _compaction_repair
        # removes, so deferring the deletes to the single root sweep
        # below is crash-equivalent and saves one driver FS round
        # trip per partition (r16)
        lp = jvm.org.apache.hadoop.fs.Path(live)
        if not fs.rename(lp, jvm.org.apache.hadoop.fs.Path(retired)):
            raise IOError(f"compact_ivf_index: retire rename failed for {live}")
        if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), lp):
            raise IOError(f"compact_ivf_index: promote rename failed for {live}")

    # r16 optimization (guide §2.6): the vectors pass and the
    # assignments pass read and swap DISJOINT directories — they run
    # as two concurrent units; within each unit the live-side
    # fingerprint scan (read-only) overlaps the rewrite job, with the
    # tmp-side fingerprint after it.  Verification semantics, swap
    # ordering, and crash recovery are unchanged — each unit still
    # proves its rewrite row-identical BEFORE any rename, each tmp
    # failure deletes only that unit's scratch subtree, and the
    # single-writer offline contract already excludes concurrent
    # mutators.
    from concurrent.futures import ThreadPoolExecutor

    def _vectors_unit() -> int:
        frag = [
            (c, path)
            for c, path in int_partition_dirs(
                spark, f"{index_dir}/vectors/centroid_id=*", "centroid_id"
            )
            if _n_files(path) >= min_files
        ]
        if not frag:
            return 0
        live_df = spark.read.option(
            "basePath", f"{index_dir}/vectors"
        ).parquet(*[p for _c, p in frag])
        data_cols = [c for c in live_df.columns if c != "centroid_id"]

        def _rewrite():
            (
                live_df.repartition(F.col("centroid_id"))
                .write.mode("overwrite")
                .partitionBy("centroid_id")
                .parquet(f"{index_dir}/.compact_tmp/vectors")
            )

        with ThreadPoolExecutor(max_workers=2) as _pool:
            _fw = _pool.submit(_content_fingerprints, live_df, data_cols)
            _rw = _pool.submit(_rewrite)
            _rw.result()
            want = _fw.result()
        tmp_df = spark.read.parquet(f"{index_dir}/.compact_tmp/vectors")
        got = _content_fingerprints(tmp_df, data_cols)
        if want != got:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{index_dir}/.compact_tmp/vectors"
                ),
                True,
            )
            raise RuntimeError(
                "compact_ivf_index: rewrite fingerprint mismatch on "
                f"vectors partitions {sorted(set(want) ^ set(got)) or 'content'}"
                " — tmp discarded, live index untouched"
            )
        fs.mkdirs(
            jvm.org.apache.hadoop.fs.Path(
                f"{index_dir}/.compact_retired/vectors"
            )
        )
        for c, path in frag:
            _swap(
                path,
                f"{index_dir}/.compact_tmp/vectors/centroid_id={c}",
                f"{index_dir}/.compact_retired/vectors/centroid_id={c}",
            )
        return len(frag)

    def _assignments_unit() -> int:
        apath = f"{index_dir}/assignments"
        # canonical assignments layout is 8 id-range files (build and
        # compaction both write repartitionByRange(8)), so
        # "fragmented" means more than that — gating on min_files
        # alone would re-compact the canonical layout forever
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(apath)) or (
            _n_files(apath) <= max(8, min_files)
        ):
            return 0
        adf = spark.read.parquet(apath)
        id_col = [c for c in adf.columns if c != "centroid_id"][0]

        def _rewrite():
            (
                adf.repartitionByRange(8, F.col(id_col))
                .sortWithinPartitions(id_col)
                .write.mode("overwrite")
                .parquet(f"{index_dir}/.compact_tmp/assignments")
            )

        with ThreadPoolExecutor(max_workers=2) as _pool:
            _fw = _pool.submit(_content_fingerprints, adf, [id_col])
            _rw = _pool.submit(_rewrite)
            _rw.result()
            want = _fw.result()
        tmp = spark.read.parquet(f"{index_dir}/.compact_tmp/assignments")
        got = _content_fingerprints(tmp, [id_col])
        if want != got:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{index_dir}/.compact_tmp/assignments"
                ),
                True,
            )
            raise RuntimeError(
                "compact_ivf_index: rewrite fingerprint mismatch on "
                "assignments — tmp discarded, live index untouched"
            )
        fs.mkdirs(
            jvm.org.apache.hadoop.fs.Path(f"{index_dir}/.compact_retired")
        )
        _swap(
            apath,
            f"{index_dir}/.compact_tmp/assignments",
            f"{index_dir}/.compact_retired/assignments",
        )
        return 1

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_vec = pool.submit(_vectors_unit)
        f_asn = pool.submit(_assignments_unit)
        from concurrent.futures import wait as _wait

        _wait([f_vec, f_asn])
    _errs = [
        e for e in (f_vec.exception(), f_asn.exception()) if e is not None
    ]
    if _errs:
        # the units run concurrently, so one may have completed and
        # swapped when the other fails (r16 ADVICE: sequential code
        # stopped before the second unit ran) — restore the
        # no-scratch invariant via the repair pass, which resolves
        # every protocol state safely (succeeded unit's retired data
        # deleted, failed unit's tmp removed, half-swaps rolled
        # back), then propagate the first error in the r16 result
        # order
        try:
            _compaction_repair(spark, index_dir)
        except Exception:
            pass  # best-effort: the original failure wins
        raise _errs[0]
    compacted = f_vec.result() + f_asn.result()
    # every swap left its retired entry for this sweep (live exists,
    # so a crash before it resolves identically in repair); clear the
    # scratch roots so a compacted index has no leftover dot-dirs
    for scratch in (".compact_tmp", ".compact_retired"):
        p = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{scratch}")
        if fs.exists(p):
            fs.delete(p, True)
    return compacted


def load_ivf_centroids(spark, index_dir: str) -> list[list[float]]:
    """The trained centroid matrix back from :func:`build_ivf_index`
    (driver-sized by construction: k×dim doubles)."""
    rows = spark.read.parquet(f"{index_dir}/centroids").collect()
    return [
        list(r["centroid"])
        for r in sorted(rows, key=lambda r: r["centroid_id"])
    ]


def load_pq_books(
    spark, index_dir: str,
) -> list[list[list[float]]] | None:
    """The PQ sub-codebooks back from a :func:`build_ivf_index`
    ``pq=...`` build (driver-sized: m·k sub-centroids), or ``None``
    for an index built without PQ — callers branch on that instead
    of a filesystem probe of their own."""
    from wikiextractor_spark.fsutil import hadoop_fs

    jpath, fs = hadoop_fs(spark, f"{index_dir}/pq_books")
    if not fs.exists(jpath):
        return None
    rows = spark.read.parquet(f"{index_dir}/pq_books").collect()
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by_sub.setdefault(int(r["subspace"]), {})[int(r["code"])] = list(
            r["centroid"]
        )
    # same external-artifact validation as load_sq_codec: codes index
    # into the book by POSITION, so a missing/duplicated (subspace,
    # code) row would silently re-map every code after the gap —
    # raise on any deviation from dense 0..m-1 × 0..k-1 instead
    subs = sorted(by_sub)
    if subs != list(range(len(subs))) or not subs:
        raise ValueError(
            f"load_pq_books: corrupt pq_books at {index_dir!r} — "
            f"subspace column must be exactly 0..n-1, got {subs[:8]}"
        )
    # the dict above COLLAPSES duplicate (subspace, code) rows before
    # the density checks below can see them — a stray append would
    # keep a file-order-dependent centroid while the grid still looks
    # dense, so compare entry count against raw row count first
    if sum(len(v) for v in by_sub.values()) != len(rows):
        raise ValueError(
            f"load_pq_books: corrupt pq_books at {index_dir!r} — "
            f"{len(rows)} rows but "
            f"{sum(len(v) for v in by_sub.values())} distinct "
            "(subspace, code) keys; duplicated rows"
        )
    k0 = sorted(by_sub[0])
    for j in subs:
        if sorted(by_sub[j]) != list(range(len(k0))):
            raise ValueError(
                f"load_pq_books: corrupt pq_books at {index_dir!r} — "
                f"subspace {j} codes must be exactly 0..{len(k0) - 1} "
                "with no duplicates"
            )
    return [
        [by_sub[j][c] for c in sorted(by_sub[j])]
        for j in sorted(by_sub)
    ]


def load_sq_codec(
    spark, index_dir: str,
) -> list[tuple[float, float]] | None:
    """The per-dimension ``(min, step)`` affine codec back from a
    :func:`build_ivf_index` ``sq=True`` build (driver-sized: 2·dim
    floats), or ``None`` for an index built without SQ — callers
    branch on that instead of a filesystem probe of their own."""
    from wikiextractor_spark.fsutil import hadoop_fs

    jpath, fs = hadoop_fs(spark, f"{index_dir}/sq_codec")
    if not fs.exists(jpath):
        return None
    rows = spark.read.parquet(f"{index_dir}/sq_codec").collect()
    # the artifact is external input at load time: a duplicated dim
    # row (a stray append) would silently keep one of the two and a
    # missing dim would KeyError mid-comprehension — both violate the
    # module's raise-don't-guess contract, so validate the dim set is
    # exactly 0..n-1 first (mirrors load_keyed_table's contract errors)
    dims = sorted(int(r["dim"]) for r in rows)
    if not rows:
        # present-but-empty is a crashed/partial write, not "no SQ":
        # returning [] would slip past every `codec is None` guard
        # and serve dim-0 all-tie scores silently
        raise ValueError(
            f"load_sq_codec: corrupt sq_codec at {index_dir!r} — "
            "artifact exists but has zero rows"
        )
    if dims != list(range(len(rows))):
        raise ValueError(
            f"load_sq_codec: corrupt sq_codec at {index_dir!r} — dim "
            f"column must be exactly 0..{len(rows) - 1} with no "
            f"duplicates, got {dims[:8]}{'...' if len(dims) > 8 else ''}"
        )
    by_dim = {int(r["dim"]): (float(r["lo"]), float(r["step"])) for r in rows}
    return [by_dim[p] for p in range(len(by_dim))]


def _index_partition_paths(
    spark, index_dir: str, buckets: list[int],
) -> list[str]:
    """Existing ``centroid_id=`` partition dirs among ``buckets`` —
    an explicit Hadoop-FS listing, so the probe's read bound never
    depends on the optimizer pruning anything (same pattern as the
    streaming signature store)."""
    from wikiextractor_spark.fsutil import int_partition_dirs

    want = set(buckets)
    return [
        path
        for cid, path in int_partition_dirs(
            spark, f"{index_dir}/vectors/centroid_id=*", "centroid_id"
        )
        if cid in want
    ]


def ann_ivf_topk_indexed(
    spark, index_dir: str, query_ids: list[int], k: int = 5,
    nprobe: int = 4, id_col: str = "vec_id", vec_col: str = "embedding",
    *, use_pq: bool = False, use_sq: bool = False, refine: int = 4,
) -> DataFrame:
    """:func:`ann_ivf_topk` against a PERSISTED index — identical
    semantics and output (value-equality tested against the in-memory
    path on the same centroids), but NO stage scans the whole vectors
    table: the query vectors come from the narrow id→centroid
    assignments lookup (range-sorted on id, so the isin filter prunes
    by row-group min-max) plus the queries' OWN centroid partitions,
    and the candidate scan reads only the union of the probe
    partitions — explicit ``centroid_id=<b>`` directory selection,
    ≤ queries × nprobe directories.

    ``use_pq=True``/``refine``: same PQ-scored candidate scan as
    :func:`ann_ivf_search_vectors` (m-int codes off disk, exact
    re-rank of the k·refine sliver), with the member row itself
    excluded like the non-PQ path.  ``use_sq=True``: same shape with
    the int8 scalar codec (dim bytes per row); mutually exclusive
    with ``use_pq`` per call."""

    def _home_paths():
        # the queries' home centroids: a filter on the 2-column
        # range-sorted lookup — tiny result, driver-collected
        q_homes = [
            r["centroid_id"]
            for r in spark.read.parquet(f"{index_dir}/assignments")
            .filter(F.col(id_col).isin(query_ids))
            .select("centroid_id")
            .distinct()
            .collect()
        ]
        return _index_partition_paths(spark, index_dir, q_homes)

    centroids, codec, home_paths = _serving_setup(
        spark, index_dir, "ann_ivf_topk_indexed", use_pq, use_sq, refine,
        vec_col, _home_paths,
    )
    if not home_paths:
        empty = spark.range(0)
        return empty.select(
            empty["id"].alias("q_id"),
            empty["id"].alias("neighbor_id"),
            F.lit(0.0).alias("cos"),
            F.lit(1).alias("rank"),
        )
    # the query vectors, read from their home partitions only
    q_base = (
        spark.read.option("basePath", f"{index_dir}/vectors")
        .parquet(*home_paths)
        .filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("q_id"),
            _as_double(F.col(vec_col)).alias("q_v"),
        )
    )
    probes = _probe_rows(q_base, centroids, nprobe)
    return _probe_and_rank(
        spark, index_dir, probes, codec, k, refine, id_col, vec_col,
        exclude_self=True,
    )


def _serving_setup(
    spark, index_dir: str, caller: str, use_pq: bool, use_sq: bool,
    refine: int, vec_col: str, home=None,
):
    """The preamble both persisted-index entry points share: the
    ``refine`` and ``use_pq``/``use_sq`` checks, then the centroids,
    the PQ/SQ artifact and the caller's ``home`` thunk (if any) loaded
    concurrently — independent read-only steps over the frozen index,
    each a small driver-blocking job.  Results are consumed in that
    order, so a ``use_pq``/``use_sq`` call against an index without
    the artifact fails before any probe work starts.  → ``(centroids,
    codec, home())``, the codec being the candidate representation
    the call scores."""
    if refine < 1:
        raise ValueError(f"refine must be >= 1, got {refine}")
    if use_pq and use_sq:
        raise ValueError(
            f"{caller}: use_pq and use_sq are mutually exclusive — pick "
            "one candidate representation per call"
        )
    from concurrent.futures import ThreadPoolExecutor

    load = load_pq_books if use_pq else load_sq_codec if use_sq else None
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_cent = pool.submit(load_ivf_centroids, spark, index_dir)
        f_art = pool.submit(load, spark, index_dir) if load else None
        f_home = pool.submit(home) if home else None
        centroids = f_cent.result()
        art = f_art.result() if f_art else None
        if load and art is None:
            flag, name, build = (
                ("use_pq", "pq_books", "pq={...}") if use_pq
                else ("use_sq", "sq_codec", "sq=True")
            )
            raise ValueError(
                f"{caller}: {flag}=True but the index at {index_dir!r} "
                f"has no {name} — rebuild with build_ivf_index(..., {build})"
            )
        homes = f_home.result() if f_home else None
    if use_pq:
        codec = _pq_codec(art)
    elif use_sq:
        codec = _sq_codec(art, "sq_codes", "sq probe")
    else:
        codec = _raw_codec(vec_col)
    return centroids, codec, homes


def _validate_queries(queries, dim: int, caller: str) -> None:
    """The one guard on caller-supplied query vectors: non-empty,
    unique caller-space q_ids (the rank window would merge their
    neighbor sets), every vector exactly ``dim``-dimensional — silent
    truncation in the LUT/probe zips would otherwise return wrong
    neighbors with no error."""
    if not queries:
        raise ValueError(f"{caller}: no query vectors — need at least one query")
    ids = [q for q, _ in queries]
    if len(set(ids)) != len(ids):
        raise ValueError(
            f"{caller}: duplicate q_ids — each query needs its own id, "
            "or the rank window merges their neighbor sets"
        )
    for qid, qv in queries:
        if len(qv) != dim:
            raise ValueError(
                f"{caller}: query {qid}: expected {dim}-dim vector, "
                f"got {len(qv)} dims"
            )


def _query_frame(spark, queries: list[tuple[int, list[float]]]) -> DataFrame:
    """``(q_id long, q_v array<double>)`` local frame of driver-side
    query vectors, the input of :func:`_probe_rows`."""
    from wikiextractor_spark.localframe import local_rows_df

    return local_rows_df(
        spark,
        [(int(q), [float(x) for x in v]) for q, v in queries],
        "q_id long, q_v array<double>",
    )


class _Codec(NamedTuple):
    """What one candidate representation supplies to the shared
    scorers: the per-query params (``params(q_v)`` → a tuple under
    ``params_ddl``, computed driver-side), the ``codes`` column read
    off the candidate scan, and the score expression over ``codes``
    and the params.  ``exact`` marks raw vectors, whose scores are
    the final cosines — the quantized codecs' scores only pick the
    shortlist that :func:`_exact_rerank_shortlist` re-ranks."""

    params_ddl: str
    params: Callable
    codes: Column
    score: Column
    exact: bool = False


def _raw_codec(vec_col: str) -> _Codec:
    return _Codec(
        "q_v array<double>", lambda qv: (qv,),
        _as_double(F.col(vec_col)).alias("codes"),
        cosine(F.col("q_v"), F.col("codes")), exact=True,
    )


def _pq_codec(books: list[list[list[float]]]) -> _Codec:
    return _Codec(
        "lut array<array<double>>", lambda qv: (_pq_lut(books, qv),),
        F.expr(_pq_guarded_codes_sql(len(books))).alias("codes"),
        F.expr(_PQ_LUT_SCORE),
    )


def _sq_codec(sq: list[tuple[float, float]], col: str, caller: str) -> _Codec:
    return _Codec(
        "base double, w array<double>", lambda qv: _sq_query_params(sq, qv),
        F.expr(_sq_guarded_codes_sql(col, len(sq), caller)).alias("codes"),
        F.expr(_SQ_FOLD_SCORE),
    )


class _Probes:
    """Driver-materialized probe rows: probes are tiny by construction
    (queries × nprobe), and one collect feeds every consumer —
    ``buckets`` the distinct probed centroids (sorted), ``qvecs`` the
    per-query vectors sorted by q_id, ``qdf`` the ``(q_id, q_v)``
    frame the rerank tail broadcasts, and :meth:`side` the broadcast
    side of the probe join.  Frames keep the SOURCE frame's q_id
    type, so non-long id columns neither raise nor silently change
    the join type downstream."""

    def __init__(self, spark, rows, schema):
        from pyspark.sql.types import StructType

        from wikiextractor_spark.localframe import local_rows_df

        self.spark = spark
        self.rows = rows
        self.buckets = sorted({int(r["q_centroid"]) for r in rows})
        by_id = {}
        for r in rows:
            by_id.setdefault(r["q_id"], list(r["q_v"]))
        self.qvecs = sorted(by_id.items())
        self.qdf = local_rows_df(
            spark, self.qvecs,
            StructType([schema["q_id"], schema["q_v"]]),
        )
        self.id_type_ddl = schema["q_id"].dataType.simpleString()

    def side(self, codec: _Codec) -> DataFrame:
        """``(q_id, q_centroid, *params)``, one row per probe row, with
        each query's params computed once."""
        from wikiextractor_spark.localframe import local_rows_df

        params = {q: codec.params(v) for q, v in self.qvecs}
        return local_rows_df(
            self.spark,
            [(r["q_id"], int(r["q_centroid"])) + params[r["q_id"]]
             for r in self.rows],
            f"q_id {self.id_type_ddl}, q_centroid int, {codec.params_ddl}",
        )


def _probe_rows(
    queries: DataFrame, centroids: list[list[float]], nprobe: int,
) -> _Probes:
    """``(q_id, q_v)`` → exploded ``(q_id, q_v, q_centroid)`` probe
    rows (:func:`_probe_centroids`), materialized with ONE driver
    collect into :class:`_Probes` — the probe set behind every
    persisted-index search and :func:`ann_ivf_pq_topk`, so probe
    selection can never drift between them."""
    exploded = queries.select(
        "q_id", "q_v", _probe_centroids("q_v", centroids, nprobe)
    )
    return _Probes(
        queries.sparkSession, exploded.collect(), exploded.schema
    )


def _score_probes(
    scan: DataFrame, probes: _Probes, codec: _Codec, id_col: str,
    exclude_self: bool, out: str,
) -> DataFrame:
    """Score the candidate rows ``(id, centroid_id, codes)`` of
    ``scan`` against the broadcast probe side — an equi-join on the
    centroid id, never a cross join over the corpus — into ``(q_id,
    neighbor_id, <out>)``.  ``exclude_self`` drops the corpus row whose
    id equals ``q_id`` — right for corpus-member queries, wrong for
    external vectors whose ids live in a different id space."""
    cond = F.col("centroid_id") == F.col("q_centroid")
    if exclude_self:
        cond = cond & (F.col(id_col) != F.col("q_id"))
    return scan.join(F.broadcast(probes.side(codec)), cond).select(
        "q_id", F.col(id_col).alias("neighbor_id"),
        F.round(codec.score, 6).alias(out),
    )


def _probe_and_rank(
    spark, index_dir: str, probes: _Probes, codec: _Codec, k: int,
    refine: int, id_col: str, vec_col: str, exclude_self: bool,
) -> DataFrame:
    """The one persisted-index scorer: only the union of the probed
    centroid partitions is read (explicit directory selection),
    column-pruned to ``(id, centroid_id, codes)`` — the dim-float
    vector for raw search, m ints per row for PQ (the 64× cut
    reaching disk), dim bytes per row for SQ — and scored against
    the broadcast probe side.  Raw cosines are ranked directly; a
    quantized score only picks each query's ``k·refine`` shortlist,
    which :func:`_exact_rerank_shortlist` re-ranks over raw vectors
    fetched from the same partitions.  Persisted codes are external
    input at serving time (an index mutated outside ``ivf_index_add``
    could carry short/NULL rows), so the codec's codes column is
    shape-guarded: such a row raises instead of silently vanishing.

    → ``(q_id, neighbor_id, cos, rank)`` with ``rank <= k``."""
    paths = _index_partition_paths(spark, index_dir, probes.buckets)
    if not paths:
        return probes.qdf.select(
            F.col("q_id"),
            F.col("q_id").alias("neighbor_id"),
            F.lit(0.0).alias("cos"),
            F.lit(1).alias("rank"),
        ).limit(0)
    vectors = spark.read.option("basePath", f"{index_dir}/vectors").parquet(
        *paths
    )
    scan = vectors.select(F.col(id_col), F.col("centroid_id"), codec.codes)
    scored = _score_probes(
        scan, probes, codec, id_col, exclude_self,
        "cos" if codec.exact else "score",
    )
    if codec.exact:
        return _rank_topk(scored, k)
    return _exact_rerank_shortlist(
        scored, vectors, probes, k, refine, id_col, vec_col
    )


def ann_ivf_search_vectors(
    spark, index_dir: str, queries: list[tuple[int, list[float]]],
    k: int = 5, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    *, use_pq: bool = False, use_sq: bool = False, refine: int = 4,
) -> DataFrame:
    """Top-k neighbors from a PERSISTED index for NEW query vectors —
    the serving path (:func:`ann_ivf_topk_indexed` searches by corpus
    member id; real retrieval searches by an embedding the corpus has
    never seen).

    ``queries`` is a driver-sized ``[(q_id, vector), ...]`` list,
    validated driver-side (dims, duplicate ids) and then run through
    the SAME probe-selection SQL as the member-id path
    (:func:`_probe_rows` — identical buckets for identical vectors
    by construction); the tiny probe frame broadcasts and ONLY the
    probed ``centroid_id=`` partitions are read — ≤ queries × nprobe
    directories, never the corpus.  Query ids live in the CALLER's id
    space: no self-exclusion against corpus ids.

    ``use_pq=True`` (requires a ``pq=`` build): the candidate scan
    reads ``(id, codes)`` — m ints per row, NOT the dim-float
    vector — LUT-scores them against a broadcast per-query table,
    shortlists ``k·refine`` per query, and re-ranks the shortlist
    with exact cosine over raw vectors fetched by a pushed-down id
    filter on the probed partitions.  Bytes-read bound: the probed
    partitions' codes column for scoring, plus the raw-vector
    row groups the shortlist id filter cannot prune — never the
    vector column of the whole index.  Same output contract.

    ``use_sq=True`` (requires an ``sq=True`` build): same shape with
    the int8 scalar codec — the candidate scan reads ``(id,
    sq_codes)`` (dim bytes per row, the 4× near-exact-recall tier)
    and scores with the affine per-query fold; same shortlist +
    exact-refine sliver.  ``use_pq`` and ``use_sq`` are mutually
    exclusive per call (one candidate representation per probe).

    → ``(q_id, neighbor_id, cos, rank)`` with ``rank <= k``."""
    caller = "ann_ivf_search_vectors"
    centroids, codec, _ = _serving_setup(
        spark, index_dir, caller, use_pq, use_sq, refine, vec_col,
    )
    _validate_queries(queries, len(centroids[0]), caller)
    probes = _probe_rows(_query_frame(spark, queries), centroids, nprobe)
    return _probe_and_rank(
        spark, index_dir, probes, codec, k, refine, id_col, vec_col,
        exclude_self=False,
    )


# Up to this many shortlist ids (queries × k × refine — the quantity
# that actually inflates the plan, not the query count: 200 queries at
# k=100, refine=10 would inline 200k literals) the rerank fetch is a
# literal id IN-list.  10240 = 256 queries at the documented k=10,
# refine=4 serving shape.
_RERANK_ISIN_MAX_IDS = 10240


def _exact_rerank_shortlist(
    scored: DataFrame, vectors: DataFrame, probes: _Probes, k: int,
    refine: int, id_col: str, vec_col: str,
) -> DataFrame:
    """Shared tail of the quantized search paths (PQ and SQ, persisted
    and in-memory): rank the approximate ``score``, keep each query's
    ``k·refine`` shortlist, and re-rank it with EXACT cosine over the
    raw vectors of ``vectors`` (the probed partitions, or the corpus).

    Up to ``_RERANK_ISIN_MAX_IDS`` shortlist ids the fetch filter is a
    literal ``id IN (shortlist)`` — pushed down to parquet, so row
    groups whose id stats exclude the shortlist never decompress the
    vector column.  Above it the inlined literal list would blow up
    the generated plan (~40k literals at 1000 queries, k=10,
    refine=4), so the fetch is a broadcast semi-join against the
    (already materialized) shortlist frame: plan size stays O(1) in
    the query count, trading the row-group pruning for a
    probe-bounded scan.  The shortlist is driver-sized by
    construction, so its collect is an artifact read.

    → ``(q_id, neighbor_id, cos, rank)`` with ``rank <= k``."""
    shortlist = (
        _rank_topk(scored, k * refine, "score")
        .select("q_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    vec_scan = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("v"),
    )
    if len(probes.qvecs) * k * refine <= _RERANK_ISIN_MAX_IDS:
        cand_ids = [
            r["neighbor_id"]
            for r in shortlist.select("neighbor_id").distinct().collect()
        ]
        vec_scan = vec_scan.filter(F.col("neighbor_id").isin(cand_ids))
    else:
        vec_scan = vec_scan.join(
            F.broadcast(shortlist.select("neighbor_id").distinct()),
            "neighbor_id",
            "leftsemi",
        )
    exact = (
        shortlist.join(vec_scan, "neighbor_id")
        .join(F.broadcast(probes.qdf), "q_id")
        .select(
            "q_id", "neighbor_id",
            F.round(cosine(F.col("q_v"), F.col("v")), 6).alias("cos"),
        )
    )
    return _rank_topk(exact, k)


def cross_corpus_embedding_pairs(
    left: DataFrame, right: DataFrame, threshold: float = 0.98,
    bands: int = 4, planes_per_band: int = 8, dim: int = 64, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicates BETWEEN two corpora — the
    semantic member of the cross-corpus family (SimHash-Hamming and
    MinHash-Jaccard are the text grains): which docs of a new crawl
    are paraphrase-level copies of the kept corpus / of a held-out
    benchmark, even when token-grain dedup misses the rewording.

    The topology of :func:`embedding_near_duplicate_pairs` run ACROSS
    the corpora, both sketched under the SAME seeded planes so shared
    buckets are comparable.  No id ordering between sides: every
    (left, right) match reports once.

    No persisted-artifact variant here (unlike the text grains): the
    bucket sketch is a few dot products per vector — cheap next to a
    MinHash/SimHash signature pass — and exact-cosine verification
    needs the kept side's VECTORS regardless, so persisting buckets
    alone would not spare a read of the kept corpus.

    → ``(left_id, right_id, cos)`` with ``cos >= threshold``.
    """

    # r16 optimization (guide §2.6): the two sketch materializations
    # are independent eager jobs over different corpora — overlap
    # them on threads (sketch content unchanged)
    from concurrent.futures import ThreadPoolExecutor

    shape = (bands, planes_per_band, dim, seed, id_col, vec_col)
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fl = _pool.submit(_embedding_band_sketch, left, *shape)
        _fr = _pool.submit(_embedding_band_sketch, right, *shape)
        ls, rs = _fl.result(), _fr.result()
    cand = _bucket_pairs(ls, rs, ("band", "bucket"), id_col).distinct()
    lv = left.select(
        F.col(id_col).alias("left_id"), _as_double(F.col(vec_col)).alias("lv")
    )
    rv = right.select(
        F.col(id_col).alias("right_id"), _as_double(F.col(vec_col)).alias("rv")
    )
    return (
        cand.join(lv, "left_id")
        .join(rv, "right_id")
        .select(
            "left_id", "right_id",
            F.round(cosine(F.col("lv"), F.col("rv")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def flagged_embedding_ids(
    left: DataFrame, right: DataFrame, threshold: float = 0.98,
    id_col: str = "vec_id", vec_col: str = "embedding", **lsh_kwargs,
) -> DataFrame:
    """Distinct left-side ids with a cosine ≥ ``threshold`` near-copy
    in ``right`` — ``prepare_corpus``'s semantic-decontamination
    anti-join target, and the set :func:`subtract_embedding_duplicates`
    removes (both through the shared ``dedup`` subtract step)."""
    return _flagged_left_ids(
        cross_corpus_embedding_pairs(
            left, right, threshold, id_col=id_col, vec_col=vec_col,
            **lsh_kwargs,
        ),
        id_col,
    )


def subtract_embedding_duplicates(
    left: DataFrame, right: DataFrame, threshold: float = 0.98,
    id_col: str = "vec_id", vec_col: str = "embedding", **lsh_kwargs,
) -> DataFrame:
    """``left`` minus every vector with a cosine ≥ ``threshold``
    near-copy in ``right`` — SEMANTIC DECONTAMINATION when ``right``
    is a held-out benchmark's embeddings (rephrased eval items slip
    past n-gram decontamination; their embeddings do not), and
    semantic incremental-crawl dedup when ``right`` is the kept
    corpus.  One anti-join on the flagged-id set, AQE-broadcastable
    because matches are rare."""
    return _subtract_flagged(
        left,
        cross_corpus_embedding_pairs(
            left, right, threshold, id_col=id_col, vec_col=vec_col,
            **lsh_kwargs,
        ),
        id_col,
    )


def hashed_embeddings(
    df: DataFrame, dim: int = 64,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """→ ``(vec_id, embedding)``: model-free document embeddings by
    feature hashing — each lowercased token adds ±1 (sign and bucket
    both from xxhash64) into a ``dim``-length accumulator, then L2
    normalization.  This is the classic hashing-trick projection:
    cosine between two documents approximates their token-overlap
    correlation, which is exactly the grain the semantic family
    needs when no learned embeddings exist — it makes SemDeDup
    (``prepare_corpus(dedup='semantic')``), ANN search, and
    embedding decontamination runnable on raw text alone.

    Scale shape: ONE narrow per-row expression — the token array is
    folded into the accumulator with ``aggregate`` (O(dim) per
    token, interpreted, zero shuffle, zero Python).  The alternative
    (explode → groupBy(id, bucket) → re-assemble) costs a
    token-grain shuffle of the whole corpus; at 100 TB the narrow
    fold wins by the shuffle it never does.  Empty/whitespace-only
    docs get a NULL embedding (stated — a zero vector has no
    direction; downstream LSH/IVF already NULL-guard).
    """
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    acc = (
        f"aggregate({toks}, array_repeat(0.0D, {dim}), (acc, t) -> "
        "transform(array(struct(pmod(xxhash64(t), %d) AS b, "
        "IF(pmod(xxhash64(t, 42L), 2) = 0, 1.0D, -1.0D) AS s)), h -> "
        "transform(acc, (x, i) -> x + IF(h.b = i, h.s, 0.0D)))[0])"
        % dim
    )
    vec = (
        "transform(array(%s), v -> transform(array(sqrt(aggregate(v, 0.0D, "
        "(a, x) -> a + x * x))), n -> CASE WHEN n = 0.0D THEN NULL "
        "ELSE transform(v, x -> x / n) END)[0])[0]" % acc
    )
    return df.select(
        F.col(id_col).alias("vec_id"), F.expr(vec).alias("embedding")
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid 2011, "Product
# Quantization for Nearest Neighbor Search" — the IVF-PQ memory
# layout used by billion-scale ANN systems).
#
# The vector splits into m subspaces; each subspace quantizes to one
# of k sub-centroids, so a dim-float vector compresses to m small
# ints (dim=64, m=8, k=16 → 8 codes ≈ 8 bytes vs 512 — a 64×
# storage cut, the difference between spilling and fitting the
# candidate set at 100 TB).  Search is ASYMMETRIC: the query stays
# exact; per (query, subspace) a k-entry lookup table of partial dot
# products is precomputed driver-side, so scoring a database code is
# m table lookups instead of a dim-length dot product.
# --------------------------------------------------------------------------


def train_pq(
    emb: DataFrame, m: int = 16, k: int = 16, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = 64,
) -> list[list[list[float]]]:
    """→ ``m`` codebooks of ``k`` sub-centroids each, trained by the
    same deterministic Lloyd machinery as :func:`ivf_centroids` on
    each subspace slice — in its ``metric="l2"`` mode: sub-centroids
    are RAW subspace means assigned by L2 distance, so codes minimize
    reconstruction error (Jégou 2011).  Unit-normalizing them (the
    coarse quantizer's mode) would be wrong here: sub-vectors of
    unit-norm embeddings have norm ≪ 1, so unit-norm sub-centroids
    inflate every asymmetric partial dot ``q·ĉ`` by a
    per-vector-varying factor and systematically distort PQ ranking.
    ``m`` must divide ``dim``.  The result is driver-sized by
    construction (m·k·dim/m = k·dim floats) — it IS the broadcast
    dimension of the index, exactly like the coarse centroids.
    Cost: m bounded sub-trainings over a sliced projection of the
    corpus.

    Sizing: recall rises with code bits ``m·log2(k)``.  Measured on
    the unit-norm testdata embeddings: m=8/k=16 (32 bits) ~0.2
    recall@5 / ~0.5 at the topk×4 shortlist grain; m=16/k=16 (64
    bits — still an 8× storage cut at dim=64) ~0.4 / ~0.7 — hence
    the m=16 default, and refine re-ranking as the recall path.
    Codebook-mode ablation (ADVICE r7), stated per grain: on
    unstructured/real unit-norm vectors the raw-mean L2 codebooks
    and the old unit-normalized ones measured within noise of each
    other at every grain; on TIGHTLY-CLUSTERED synthetic data the
    old normalized codebooks scored HIGHER final-grain recall
    (≈0.56 vs ≈0.4 at m=8 on the pinned fixture) despite
    reconstructing ~27× WORSE — their error accidentally shatters
    identical-code clusters, substituting noise for the id
    tie-break, while well-reconstructing codes collapse
    within-cluster order.  Raw means are kept anyway: the asymmetric
    estimator ``Σ q_j·ĉ_j ≈ q·x`` is unbiased, shortlist-grain
    recall (what refine actually consumes) matched within noise, and
    the refine stage — not final-grain PQ order — is the family's
    documented recall path.  Residual encoding (FAISS IVFPQ)
    measured no better on this data — all recorded here so future
    rounds don't re-litigate."""
    if dim is not None and dim % m != 0:
        raise ValueError(f"m={m} must divide dim={dim}")
    # one-row probe: a corpus whose vectors are not dim-long would
    # otherwise train truncated (longer) or degenerate empty-slice
    # (shorter) codebooks with no error.  dim=None (r16): derive the
    # dimension from this same probe — the decoupling that lets
    # build_ivf_index run this training concurrently with the coarse
    # quantizer instead of waiting on it for len(centroids[0]).
    got = (
        emb.select(F.size(F.col(vec_col)).alias("_n"))
        .filter(F.col("_n").isNotNull())
        .first()
    )
    if dim is None:
        if got is None:
            raise ValueError(
                "ivf_centroids: the corpus has no vectors to train on"
            )
        dim = got["_n"]
        if dim % m != 0:
            raise ValueError(f"m={m} must divide dim={dim}")
    if got is not None and got["_n"] != dim:
        raise ValueError(
            f"train_pq: expected {dim}-dim vectors, corpus has "
            f"{got['_n']} — pass dim= matching your embeddings"
        )
    sub = dim // m
    # r16 optimization (guide §1.2 — fewer passes): the m per-subspace
    # seed selections are the SAME md5-ordered k rows every time (the
    # ordering key is the id, not the slice), so ONE driver collect of
    # the full-dim seed vectors replaces m identical limit-k scan
    # jobs; each subspace's seeds are then the driver-side slice —
    # value-identical to seeding on the sliced frame (pinned by the
    # PQ book equality tests).  The per-subspace Lloyd loops (iters>0)
    # still run distributed, one per subspace, via the factored
    # _lloyd_iters, and overlap on threads (§2.6) since they share no
    # state.
    seed_rows = (
        emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h")
        .limit(k)
        .select("v")
        .collect()
    )
    full_seeds = [list(r["v"]) for r in seed_rows]
    if not full_seeds:
        raise ValueError(
            "ivf_centroids: the corpus has no vectors to train on"
        )

    def _book(j: int) -> list[list[float]]:
        sub_seeds = [
            list(v[j * sub: (j + 1) * sub]) for v in full_seeds
        ]
        if iters == 0:
            return sub_seeds
        sliced = emb.select(
            F.col(id_col),
            F.slice(_as_double(F.col(vec_col)), j * sub + 1, sub).alias(
                "v"
            ),
        )
        return _lloyd_iters(sliced, sub_seeds, iters, "l2")

    if iters == 0:
        return [_book(j) for j in range(m)]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        return list(pool.map(_book, range(m)))


def _pq_codes_sql(vec_col: str, books: list[list[list[float]]]) -> str:
    """The m-length code array as one bound expression: per subspace,
    the L2-nearest sub-centroid of the sub-vector (via the biased
    dot-product scores — same assignment metric the codebooks were
    trained with)."""
    sub = len(books[0][0])
    parts = []
    for j, book in enumerate(books):
        scores = _centroid_scores_sql(
            f"slice({vec_col}, {j * sub + 1}, {sub})", book, metric="l2"
        )
        parts.append(
            f"transform(array({scores}), s -> "
            "array_position(s, array_max(s)) - 1)[0]"
        )
    return "array(%s)" % ", ".join(f"cast({p} as int)" for p in parts)


def pq_encode(
    emb: DataFrame, books: list[list[list[float]]],
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """→ ``(id, codes array<int>)``: the compressed corpus — one
    narrow scan-speed pass, no shuffle.  Persist this instead of the
    raw vectors for the memory-bound candidate stages."""
    return emb.select(
        F.col(id_col),
        F.expr(_pq_codes_sql(vec_col, books)).alias("codes"),
    )


def _pq_lut(
    books: list[list[list[float]]], qv: list[float]
) -> list[list[float]]:
    """The m×k partial-dot lookup table of one query against the
    codebooks: ``lut[j][c] = q_subj · books[j][c]`` — m·k floats,
    computed driver-side (trivially sized)."""
    sub = len(books[0][0])
    return [
        [
            sum(x * y for x, y in zip(qv[j * sub: (j + 1) * sub], c))
            for c in book
        ]
        for j, book in enumerate(books)
    ]


# ``aggregate(zip_with(codes, lut, ...))``: a database row's PQ score
# is m table lookups.  NB bracket indexing `t[i]` is 0-BASED in Spark
# SQL (element_at is the 1-based one) — codes are already 0-based.
_PQ_LUT_SCORE = (
    "aggregate(zip_with(codes, lut, (c, t) -> t[c]), "
    "0.0D, (acc, x) -> acc + x)"
)


def _pq_guarded_codes_sql(m: int) -> str:
    """Shape guard applied ONCE where externally-supplied codes enter
    a PQ scoring plan (``pq_search``'s caller frame, the persisted
    codes scan of ``_probe_and_rank``): a row whose ``codes``
    length differs from the codebook count, or that carries a NULL
    element, RAISES instead of NULL-scoring through
    ``zip_with``/``t[c]`` and silently vanishing from every shortlist
    — the same raise-don't-guess contract ``sq_search`` enforces.
    Internally-derived codes (``_pq_codes_sql`` over raw vectors)
    are valid by construction and skip the guard."""
    return (
        f"IF(size(codes) = {m} AND NOT exists(codes, c -> c IS NULL), "
        "codes, raise_error(concat('pq: codes row does not match the "
        f"{m}-subspace codebooks (wrong length or NULL element)')))"
    )


def _flat_search(
    codes: DataFrame, codec: _Codec, queries: list[tuple[int, list[float]]],
    topk: int, id_col: str, exclude_self: bool,
) -> DataFrame:
    """The one flat quantized scorer behind :func:`pq_search` and
    :func:`sq_search`: the guarded codes column, one BROADCAST
    ``(q_id, *params)`` frame cross-joined against it (params are
    driver-computed per query, so the generated SQL is constant-size
    at any batch size — tested at 1000 queries), the codec's score
    rounded to 6 decimals, then the per-query window top-k."""
    from wikiextractor_spark.localframe import local_rows_df

    params = local_rows_df(
        codes.sparkSession,
        [(int(q),) + codec.params(v) for q, v in queries],
        f"q_id long, {codec.params_ddl}",
    )
    scored = (
        codes.select(F.col(id_col).alias("neighbor_id"), codec.codes)
        .crossJoin(F.broadcast(params))
        .select(
            "q_id", "neighbor_id", F.round(codec.score, 6).alias("score")
        )
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("q_id"))
    return _rank_topk(scored, topk, "score")


def pq_search(
    codes: DataFrame, books: list[list[list[float]]],
    queries: list[tuple[int, list[float]]], topk: int = 5,
    id_col: str = "vec_id", exclude_self: bool = False,
) -> DataFrame:
    """→ ``(q_id, neighbor_id, score, rank)``: asymmetric-distance
    top-k of each query against the COMPRESSED corpus.

    Per query the driver builds the m×k partial-dot lookup table
    (m·k floats); a database row's score is ``Σ_j LUT[j][code_j]`` —
    m array lookups per (row, query).  The LUTs ship as one broadcast
    ``(q_id, lut)`` frame, so all queries score in ONE pass over the
    codes scan, then the same per-query window top-k every ANN path
    here uses (:func:`_flat_search`).  Scores approximate the exact
    dot product with quantization error (see :func:`train_pq`
    sizing).  A ``codes`` row of the wrong length or with a NULL
    element raises.

    Query ids live in the CALLER's id space: no self-exclusion by
    default (a new vector's id colliding with an unrelated corpus id
    must not silently drop a true neighbor); pass
    ``exclude_self=True`` when query ids ARE corpus ids."""
    _validate_queries(queries, len(books) * len(books[0][0]), "pq_search")
    return _flat_search(
        codes, _pq_codec(books), queries, topk, id_col, exclude_self
    )


def ann_ivf_pq_topk(
    emb: DataFrame, queries: list[tuple[int, list[float]]],
    topk: int = 5, nprobe: int = 4, refine: int = 4,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    n_centroids: int = 16, iters: int = 2,
    m: int = 16, k_sub: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-PQ with exact re-ranking: the canonical billion-scale ANN
    composition — the coarse quantizer prunes WHICH vectors are
    candidates (each query probes its ``nprobe`` nearest centroid
    buckets), product quantization bounds WHAT the candidate scan
    reads (m code ints, LUT-scored), and ``refine`` re-ranks the
    ``topk·refine`` PQ shortlist with exact cosine over raw vectors
    fetched by ONE filter on that tiny id set (FAISS IVFPQR shape).
    Without re-ranking, tightly clustered points quantize to
    IDENTICAL codes and within-cluster order degenerates to the id
    tie-break — measured recall@5 ~0.3 (refine=1) vs ~0.9 (refine=4)
    on clustered data; ``refine=1`` returns the PQ order and scores,
    with no exact pass.

    Batched plan: the probes come from the same SQL as the persisted
    index (:func:`_probe_rows`); per-query LUTs + probe centroids ship
    as ONE broadcast frame equi-joined on the centroid id against the
    materialized codes, so ONE pass scores every query and the
    generated SQL stays constant-size at any batch size; ONE scan of
    ``emb`` fetches all shortlist vectors — corpus reads do not scale
    with query count.  Index artifacts (``centroids``, ``books``) are
    driver-sized; pass pre-trained ones so repeated batches never
    refit.  Query ids are caller-space (no self-exclusion unless
    ``exclude_self=True``, like :func:`pq_search`)."""
    if refine < 1:
        raise ValueError(f"refine must be >= 1, got {refine}")
    if centroids is None:
        centroids = ivf_centroids(emb, n_centroids, iters, id_col, vec_col)
    dim = len(centroids[0])
    _validate_queries(queries, dim, "ann_ivf_pq_topk")
    if books is None:
        books = train_pq(
            emb, m=m, k=k_sub, iters=iters, id_col=id_col, vec_col=vec_col,
            dim=dim,
        )
    # one narrow pass carries assignment AND codes; materialize —
    # the probe join reads this, not the raw corpus
    coded = (
        ivf_assign(emb, centroids, id_col, vec_col, keep_vec=True)
        .select(
            F.col(id_col), F.col("centroid_id"),
            F.expr(_pq_codes_sql(vec_col, books)).alias("codes"),
        )
        .localCheckpoint(eager=True)
    )
    probes = _probe_rows(
        _query_frame(emb.sparkSession, queries), centroids, nprobe
    )
    scored = _score_probes(
        coded, probes, _pq_codec(books), id_col, exclude_self, "score"
    )
    if refine == 1:
        return _rank_topk(scored, topk, "score")
    return _exact_rerank_shortlist(
        scored, emb, probes, topk, refine, id_col, vec_col
    ).withColumnRenamed("cos", "score")


# --------------------------------------------------------------------------
# Scalar quantization (SQ8): int8-per-dimension compression — the
# FAISS ScalarQuantizer workhorse.  4× storage cut at near-exact
# recall (each dimension keeps 8 bits, vs PQ's ~1 bit/dim), the
# standard serving default when memory allows; PQ above is the
# aggressive 64× tier.
# --------------------------------------------------------------------------

def train_sq(
    emb: DataFrame, vec_col: str = "embedding",
) -> list[tuple[float, float]]:
    """→ per-dimension ``(min, step)`` with ``step = (max − min)/255``
    — the affine int8 codec, trained in ONE tiny dim-grain aggregate
    (posexplode → groupBy position: the exchange carries dim rows per
    task after partial agg, nothing corpus-sized).  Constant
    dimensions get ``step = 0`` and encode to 0 (decoded exactly to
    their constant).  Driver-sized by construction: 2·dim floats."""
    rows = (
        emb.select(F.posexplode(_as_double(F.col(vec_col))).alias("_p", "_x"))
        .groupBy("_p")
        .agg(F.min("_x").alias("_lo"), F.max("_x").alias("_hi"))
        .collect()
    )
    if not rows:
        raise ValueError("train_sq: the corpus has no vectors to train on")
    all_null = sorted(int(r["_p"]) for r in rows if r["_lo"] is None)
    if all_null:
        # min/max skip NULLs, so an all-NULL dimension surfaces here —
        # raise the module's contract error, not a driver TypeError
        raise ValueError(
            f"train_sq: dimensions {all_null} are NULL in every "
            "vector — clean the embedding column first"
        )
    by_p = {int(r["_p"]): (float(r["_lo"]), float(r["_hi"])) for r in rows}
    return [
        (by_p[p][0], (by_p[p][1] - by_p[p][0]) / 255.0)
        for p in range(len(by_p))
    ]


def _sq_codec_sql(vec_col: str, sq: list[tuple[float, float]]) -> str:
    """TINYINT codes as one bound expression: per dimension,
    ``clamp(round((x − min)/step), 0, 255) − 128`` (−128 when the
    dimension is constant).  The −128 shift fits the unsigned 0..255
    level into Spark's SIGNED byte — element width is the ENTIRE
    compression story for SQ (code count equals dim, unlike PQ), so
    codes must actually be 1 byte, not a 4-byte int that matches the
    float32 source width.  The search path folds the shift back into
    its per-query base term."""
    params = "array(%s)" % ", ".join(
        f"named_struct('lo', {lo}D, 'st', {st}D)" for lo, st in sq
    )
    return f"""
      zip_with(transform({vec_col}, x -> cast(x as double)), {params},
        (x, p) -> CASE WHEN p.st = 0.0D THEN cast(-128 as tinyint)
          ELSE cast(greatest(0.0D, least(255.0D, round((x - p.lo) / p.st))) - 128 as tinyint)
        END)
    """


def _sq_guarded_codes_sql(col: str, dim: int, caller: str) -> str:
    """Shape guard for externally-supplied SQ codes (``sq_search``'s
    caller frame, the persisted ``sq_codes`` scan in
    ``_probe_and_rank``) — one implementation so the contract
    cannot drift between the flat and persisted serving paths, like
    :func:`_pq_guarded_codes_sql` for the PQ twin: a row whose codes
    length differs from the codec dim, or that carries a NULL
    element, RAISES instead of NULL-scoring out of every result."""
    return (
        f"IF(size({col}) = {dim} AND NOT exists({col}, "
        f"c -> c IS NULL), {col}, raise_error(concat('{caller}: "
        f"{col} row does not match the {dim}-dim codec (wrong "
        "length or NULL element)')))"
    )


def sq_encode(
    emb: DataFrame, sq: list[tuple[float, float]],
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """→ ``(id, codes array<tinyint> in [−128, 127]: level − 128)`` —
    one narrow scan-speed pass, no shuffle, like :func:`pq_encode`,
    at one byte per dimension (the 4× cut vs float32)."""
    return emb.select(
        F.col(id_col),
        F.expr(_sq_codec_sql(vec_col, sq)).alias("codes"),
    )


def _sq_query_params(
    sq: list[tuple[float, float]], qv: list[float],
) -> tuple[float, list[float]]:
    """``(base, weights)`` of one query against the codec, with the
    stored codes' −128 shift folded into the base:
    ``q·x̂ = Σ q_i·(min_i + step_i·(c'_i + 128))
          = (Σ q_i·min_i + 128·Σ w_i) + Σ w_i·c'_i``."""
    w = [float(q) * st for q, (_lo, st) in zip(qv, sq)]
    base = sum(float(q) * lo for q, (lo, _st) in zip(qv, sq))
    return base + 128.0 * sum(w), w


# ``base + Σ w_i·c_i``: a database row's SQ score, one fold over its
# codes against the per-query affine params (:func:`_sq_query_params`).
_SQ_FOLD_SCORE = (
    "base + aggregate(zip_with(codes, w, (c, x) -> x * c), 0.0D, "
    "(acc, x) -> acc + x)"
)


def sq_search(
    codes: DataFrame, sq: list[tuple[float, float]],
    queries: list[tuple[int, list[float]]], topk: int = 5,
    id_col: str = "vec_id", exclude_self: bool = False,
) -> DataFrame:
    """→ ``(q_id, neighbor_id, score, rank)``: asymmetric top-k of
    each query against the int8-compressed corpus.

    The decoded dot product is affine in the codes:
    ``q·x̂ = base_q + Σ w_i·c_i`` with ``base_q``/``w`` driver-computed
    per query (:func:`_sq_query_params`), so a database row scores in
    one zip_with fold over its codes — no lookup tables, which is why
    SQ serves faster than PQ at the same candidate count.  The
    ``(q_id, base, w)`` frame broadcasts and cross-joins, exactly like
    :func:`pq_search` (:func:`_flat_search`).  At SQ's modest
    compression the family targets exact-ish recall, so no refine
    stage is composed here (measured recall@5 ≈ 1.0 on the testdata
    embeddings — pytest-pinned ≥ 0.8).

    A corpus row whose ``codes`` length differs from the codec's dim
    (or carries a NULL element) RAISES — zip_with would otherwise
    NULL its score and silently drop it from every result, the exact
    asymmetry this family's raise-don't-guess contract forbids.

    Query ids are caller-space (no self-exclusion unless
    ``exclude_self=True``), like every serving path here."""
    _validate_queries(queries, len(sq), "sq_search")
    return _flat_search(
        codes, _sq_codec(sq, "codes", "sq_search"), queries, topk, id_col,
        exclude_self,
    )
