"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force top-k per probe: broadcast the probe
  set, JVM-side dot products (zip_with/aggregate — no Python), windowed
  top-k.  The correctness baseline.
* ``ivf_topk`` — IVF-style scale path: k-means-lite centroids (driver-side
  NumPy on a sample), every vector assigned to its nearest centroid
  (Arrow UDF), probes search only ``nprobe`` nearest lists.  Approximate;
  recall measured against ``cosine_topk`` in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from geolake_spark.functions import sim


def cosine_topk(vectors: DataFrame, probes: DataFrame, k: int,
                vec_col: str = "embedding", id_col: str = "vec_id",
                probe_id: str = "probe_id", probe_vec: str = "probe_vec") -> DataFrame:
    """Exact top-k by cosine per probe.  probes must be small (broadcast)."""
    j = vectors.crossJoin(F.broadcast(probes))
    cos = sim.cosine_col(F.col(vec_col), F.col(probe_vec))
    w = Window.partitionBy(probe_id).orderBy(F.col("cosine").desc(),
                                             F.col(id_col).asc())
    return (j.withColumn("cosine", F.round(cos, 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(probe_id, id_col, "cosine", "rank"))


def kmeans_fit_distributed(vectors: DataFrame, dim: int,
                           n_clusters: int | None = None,
                           vec_col: str = "embedding", iters: int = 6,
                           id_col: str = "vec_id",
                           tol: float | None = 1e-4,
                           init: str = "first",
                           sample_rows: int | None = None,
                           seed: int = 42) -> np.ndarray:
    """Distributed spherical k-means: the 100 TB-scale IVF trainer.

    Per iteration: ONE ``mapInPandas`` pass over the cached normalized
    vectors computes per-batch partial (cluster, count, sum-vector) rows —
    assignment (one BLAS matmul against the broadcast centers) AND the
    dim-wise sums happen in the same Arrow batch, so the JVM-side
    aggregation only merges <= n_clusters rows per batch instead of
    hash-aggregating 64 ``element_at`` columns over every vector (the
    round-2 formulation; measurably slower at 500k x 707).  No driver-side
    data beyond the (n_clusters x dim) center matrix (sqrt(1e9) x 64
    doubles = 16 MB, comfortably broadcastable).  Initial centers are the
    first ``n_clusters`` rows by id (deterministic).  ``n_clusters=None``
    picks ~sqrt(N) (the classic IVF list-count rule).

    Round-5 wall-time work (the trainer was the most expensive headline
    job), each measured at 500k x 64 / 707 lists:
    * the cached tier is ``array<float>`` — per-pass Spark->Arrow
      conversion is ~2x faster than the double tier (measured 0.8-1.2 s
      vs 1.7-2.0 s per pass) and the cache is half the size; assignment
      runs in float32 (BLAS sgemm), which cannot move an argmax except
      for exact ties — sums still accumulate per-batch then reduce in
      float64 on the JVM side, and the center renormalization is float64;
    * per-batch reduction is sort + ``np.add.reduceat`` over contiguous
      assignment runs — 3.6x faster than the ``np.add.at`` scatter;
    * ``tol``: early-stop when the max center shift (L2) drops below it —
      a converged corpus stops paying full passes (None disables);
    * ``init="sample"``: seed the centers with driver-side k-means over a
      ~``20 x n_clusters``-row deterministic sample of the cached tier
      (one cheap filter scan — the sample is a few MB even at 100 TB
      table scale, since it depends only on n_clusters).  A near-converged
      start lets ``iters=2`` distributed polish passes match the list
      quality of 4+ passes from the cold "first rows" init — the passes
      are the dominant trainer cost, so this is the wall-time lever.
      Recall vs brute force for exactly this configuration is asserted in
      tests/test_ann.py::test_ivf_sf1_scale;
    * ``init="parallel"``: k-means|| (see :func:`_kmeans_parallel_init`)
      — the init for when even the sample collect is infeasible
      (n_clusters ~ 10^6 at 10^12 rows); deterministic hash-based
      sampling, driver sees only the candidate set."""
    import pandas as pd
    from pyspark.sql import types as T
    if n_clusters is None:
        n = vectors.count()
        n_clusters = max(4, int(np.sqrt(n)))
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0),
                              lambda a, x: a + x * x))
    # The norm must sit OUTSIDE the per-element lambda: a lambda-body
    # subexpression is re-evaluated for EVERY element (64x the aggregate
    # per row — measured r6; CollapseProject re-inlines a hoisted
    # projection, so the hoist is expressed as an array_repeat argument,
    # which is evaluated once per row).  zip_with(x, repeat(norm), /) is
    # bit-identical to the old transform(x, x / norm).
    gnorm = F.greatest(norm, F.lit(1e-12))
    nv = vectors.select(
        F.zip_with(F.col(vec_col),
                   F.array_repeat(gnorm, F.size(F.col(vec_col))),
                   lambda x, nr: x / nr)
        .cast("array<float>").alias("nv"),
        F.col(id_col)).cache()
    centers = None
    if init == "parallel":
        centers = _kmeans_parallel_init(nv, dim, n_clusters,
                                        id_col=id_col, seed=seed)
    if init == "sample":
        # row count from the SOURCE table (parquet count(*) is metadata-
        # only) — nv is row-preserving, so the sample fraction is
        # identical, and the cache then materializes inside the sample
        # scan instead of paying a separate count pass first (r6)
        n = vectors.count()
        s_rows = sample_rows or min(max(20 * n_clusters, 4096), 65536)
        if n > n_clusters:
            frac = min(1.0, s_rows / n)
            samp = np.array(
                [r["nv"] for r in
                 nv.select("nv").sample(False, frac, seed).collect()],
                dtype=np.float64)
            if len(samp) > n_clusters:
                centers = _kmeans_np(samp, n_clusters, iters=10, seed=seed)
    if centers is None:  # init="first" or degenerate sample: first rows
        centers = np.array(
            [r["nv"] for r in nv.orderBy(id_col).limit(n_clusters).collect()],
            dtype=np.float64)
    schema = T.StructType(
        [T.StructField("list_id", T.IntegerType()),
         T.StructField("cnt", T.LongType())]
        + [T.StructField(f"s{i}", T.DoubleType()) for i in range(dim)])
    for _ in range(iters):
        c32 = centers.astype(np.float32)

        def part_stats(batches, _c=c32):
            from geolake_spark.functions import sim as _sim
            for pdf in batches:
                m = _sim.stack_vectors(pdf["nv"], dtype=np.float32)
                if len(m) == 0:
                    continue
                a = (m @ _c.T).argmax(axis=1)
                order = np.argsort(a, kind="stable")
                asort = a[order]
                starts = np.flatnonzero(np.r_[True, np.diff(asort) > 0])
                sums = np.add.reduceat(m[order], starts, axis=0)
                occ = asort[starts]
                cnts = np.diff(np.r_[starts, len(asort)])
                out = {"list_id": occ.astype(np.int32),
                       "cnt": cnts.astype(np.int64)}
                for i in range(m.shape[1]):
                    out[f"s{i}"] = sums[:, i].astype(np.float64)
                yield pd.DataFrame(out)

        stats = (nv.mapInPandas(part_stats, schema)
                 .groupBy("list_id")
                 .agg(F.sum("cnt").alias("cnt"),
                      *[F.sum(f"s{i}").alias(f"s{i}") for i in range(dim)])
                 .collect())
        new_centers = centers.copy()
        for r in stats:
            s = np.array([r[f"s{i}"] for i in range(dim)], dtype=np.float64)
            nrm = np.linalg.norm(s)
            if nrm > 0:
                new_centers[r["list_id"]] = s / nrm
        shift = float(np.sqrt(((new_centers - centers) ** 2)
                              .sum(axis=1)).max())
        centers = new_centers
        if tol is not None and shift < tol:
            break
    nv.unpersist()
    return centers


def _make_assign_udf(centers: np.ndarray):
    """vector -> nearest-centroid index (cosine on normalized inputs)."""
    c = centers.copy()

    @pandas_udf(T.IntegerType())
    def assign_udf(vec: pd.Series) -> pd.Series:
        m = sim.stack_vectors(vec)
        m = m / np.clip(np.linalg.norm(m, axis=1, keepdims=True), 1e-12, None)
        return pd.Series((m @ c.T).argmax(axis=1).astype(np.int32))
    return assign_udf


def _make_route_udf(centers: np.ndarray, nprobe: int):
    """probe vector -> its ``nprobe`` nearest list ids (Arrow-batched)."""
    c = centers.copy()
    npq = min(nprobe, len(c))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def route_udf(vec: pd.Series) -> pd.Series:
        m = sim.stack_vectors(vec)
        m = m / np.clip(np.linalg.norm(m, axis=1, keepdims=True), 1e-12, None)
        sims = m @ c.T
        top = np.argpartition(-sims, npq - 1, axis=1)[:, :npq]
        out = []
        for i in range(len(m)):
            ids = top[i]
            # deterministic order: similarity desc, then list id
            ids = ids[np.lexsort((ids, -sims[i, ids]))]
            out.append(ids.astype(np.int32))
        return pd.Series(out)
    return route_udf


def ivf_topk_table(vectors: DataFrame, probes: DataFrame, k: int,
                   nprobe: int, centers: np.ndarray,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   probe_id: str = "probe_id",
                   probe_vec: str = "probe_vec") -> DataFrame:
    """IVF top-k for probe TABLES of any size — fully distributed routing.

    :func:`ivf_topk` collects the probes and routes them driver-side
    (right for the reference's small probe sets); here each probe explodes
    to its ``nprobe`` nearest lists via an Arrow UDF and candidates come
    from a shuffle hash equi-join on ``list_id`` — no driver collect, no
    per-probe plans, millions of probes are fine.  Candidate volume is
    |probes| x nprobe x N/nlist; skewed (popular) lists are handled by
    AQE's skew-join splitting.  Results identical to :func:`ivf_topk`
    given the same ``centers``/``nprobe``."""
    assigned = vectors.withColumn(
        "list_id", _make_assign_udf(centers)(F.col(vec_col)))
    route = _make_route_udf(centers, nprobe)
    pr = (probes.select(probe_id, probe_vec)
          .withColumn("list_id", F.explode(route(F.col(probe_vec)))))
    j = assigned.join(pr, "list_id")
    cos = sim.cosine_col(F.col(vec_col),
                         F.col(probe_vec).cast(T.ArrayType(T.DoubleType())),
                         centers.shape[1])
    w = Window.partitionBy(probe_id).orderBy(F.col("cosine").desc(),
                                             F.col(id_col).asc())
    return (j.withColumn("cosine", F.round(cos, 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(probe_id, id_col, "cosine", "rank"))


def _kmeans_np(sample: np.ndarray, n_clusters: int, iters: int = 10,
               seed: int = 42) -> np.ndarray:
    """Vectorized driver-side spherical k-means for the sampled trainer
    init: same sort + ``np.add.reduceat`` shape as the distributed pass
    (a per-cluster Python loop at sqrt(N) clusters would dominate the
    init's wall time — that loop is fine for :func:`_kmeans_lite`'s
    small-data use and kept there unchanged for output stability)."""
    rng = np.random.RandomState(seed)
    centers = sample[rng.choice(len(sample), n_clusters, replace=False)]
    for _ in range(iters):
        assign = (sample @ centers.T).argmax(axis=1)
        order = np.argsort(assign, kind="stable")
        asort = assign[order]
        starts = np.flatnonzero(np.r_[True, np.diff(asort) > 0])
        sums = np.add.reduceat(sample[order], starts, axis=0)
        occupied = asort[starts]
        norms = np.linalg.norm(sums, axis=1)
        ok = norms > 0
        centers[occupied[ok]] = sums[ok] / norms[ok, None]
    return centers


def _kmeans_np_weighted(pts: np.ndarray, w: np.ndarray, n_clusters: int,
                        iters: int = 10) -> np.ndarray:
    """Weighted spherical k-means on the k-means|| candidate set: each
    candidate stands for ``w`` corpus points, so sums weight by ``w``.
    Deterministic init: the ``n_clusters`` heaviest candidates."""
    order = np.argsort(-w, kind="stable")[:n_clusters]
    centers = pts[order].copy()
    for _ in range(iters):
        assign = (pts @ centers.T).argmax(axis=1)
        o = np.argsort(assign, kind="stable")
        asort = assign[o]
        starts = np.flatnonzero(np.r_[True, np.diff(asort) > 0])
        sums = np.add.reduceat(pts[o] * w[o, None], starts, axis=0)
        occupied = asort[starts]
        norms = np.linalg.norm(sums, axis=1)
        ok = norms > 0
        centers[occupied[ok]] = sums[ok] / norms[ok, None]
    return centers


def _kmeans_parallel_init(nv: DataFrame, dim: int, n_clusters: int,
                          id_col: str = "vec_id", rounds: int = 4,
                          oversample: int | None = None,
                          seed: int = 42) -> np.ndarray | None:
    """k-means|| init (Bahmani et al., VLDB 2012) — the init for the
    regime where even a ``20 x n_clusters``-row sample is too big to
    collect (10^12 rows, n_clusters = sqrt(N) ~ 10^6: the "sample" init
    would pull 20M rows to the driver; this pulls ~``2k x rounds``
    CANDIDATES, each round keeping expected ``l = 2k`` new ones).

    Per round: one pass aggregates the total cost (1 - max-cosine to the
    candidate set — the spherical d²/2), one pass Bernoulli-samples rows
    with probability ``l * cost / total`` using a DETERMINISTIC
    pseudo-uniform (xxhash64(id, seed, round) -> [0,1) — reproducible
    across runs/cluster sizes, unlike rand()).  Candidates are then
    weighted by the corpus mass they attract (one counting pass) and
    reduced to ``n_clusters`` centers by driver-side weighted k-means.

    2*rounds+1 distributed passes: locally slower than init="sample"
    (which is why "sample" stays the bench default); at cluster scale the
    passes are cheap scans and the driver never sees more than the
    candidate set.  Returns None (caller falls back) if sampling
    degenerates below ``n_clusters`` candidates."""
    import pandas as pd

    seed_row = (nv.select("nv")
                .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
                .limit(1).collect())
    if not seed_row:
        return None
    cand = np.array([seed_row[0]["nv"]], dtype=np.float64)
    l = oversample or 2 * n_clusters
    u = (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed), F.lit(0)),
                F.lit(2 ** 53)).cast("double") / F.lit(float(2 ** 53)))
    cost_schema = T.StructType([T.StructField("cost", T.DoubleType())])
    samp_schema = T.StructType(
        [T.StructField("nv", T.ArrayType(T.FloatType()))])
    for rnd in range(rounds):
        c32 = cand.astype(np.float32)
        u = (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed), F.lit(rnd)),
                    F.lit(2 ** 53)).cast("double") / F.lit(float(2 ** 53)))
        base = nv.select("nv", u.alias("u"))

        def costs(batches, _c=c32):
            for pdf in batches:
                m = sim.stack_vectors(pdf["nv"], dtype=np.float32)
                if len(m) == 0:
                    continue
                c = np.maximum(1.0 - (m @ _c.T).max(axis=1), 0.0)
                yield pd.DataFrame({"cost": c.astype(np.float64)})

        total = (base.mapInPandas(costs, cost_schema)
                 .agg(F.sum("cost")).collect()[0][0])
        if not total or total <= 0:
            break  # every point coincides with a candidate

        def sample_rows(batches, _c=c32, _thr=l / total):
            for pdf in batches:
                m = sim.stack_vectors(pdf["nv"], dtype=np.float32)
                if len(m) == 0:
                    continue
                c = np.maximum(1.0 - (m @ _c.T).max(axis=1), 0.0)
                mask = pdf["u"].to_numpy() < _thr * c
                if mask.any():
                    yield pd.DataFrame(
                        {"nv": [row for row in m[mask]]})

        new = base.mapInPandas(sample_rows, samp_schema).collect()
        if new:
            cand = np.vstack([cand, np.array([r["nv"] for r in new],
                                             dtype=np.float64)])
    if len(cand) < n_clusters:
        return None
    c32 = cand.astype(np.float32)
    wschema = T.StructType([T.StructField("cid", T.IntegerType()),
                            T.StructField("cnt", T.LongType())])

    def wcounts(batches, _c=c32):
        for pdf in batches:
            m = sim.stack_vectors(pdf["nv"], dtype=np.float32)
            if len(m) == 0:
                continue
            a = (m @ _c.T).argmax(axis=1)
            ids, cnts = np.unique(a, return_counts=True)
            yield pd.DataFrame({"cid": ids.astype(np.int32),
                                "cnt": cnts.astype(np.int64)})

    w = np.zeros(len(cand), dtype=np.float64)
    for r in (nv.mapInPandas(wcounts, wschema)
              .groupBy("cid").agg(F.sum("cnt").alias("cnt")).collect()):
        w[r["cid"]] = r["cnt"]
    return _kmeans_np_weighted(cand, w, n_clusters)


def _kmeans_lite(sample: np.ndarray, n_clusters: int, iters: int = 8,
                 seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    centers = sample[rng.choice(len(sample), n_clusters, replace=False)]
    for _ in range(iters):
        # cosine assignment on normalized vectors
        sims = sample @ centers.T
        assign = sims.argmax(axis=1)
        for c in range(n_clusters):
            m = assign == c
            if m.any():
                v = sample[m].mean(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    centers[c] = v / norm
    return centers


def sample_centers(vectors: DataFrame, n_clusters: int = 16,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   sample_rows: int = 2000, seed: int = 42) -> np.ndarray:
    """Driver-sample k-means centers (the small-data trainer): first
    ``sample_rows`` rows by id (deterministic), normalized, k-means-lite."""
    sample = np.array([r[0] for r in
                       vectors.select(id_col, vec_col).orderBy(id_col)
                       .limit(sample_rows).select(vec_col).collect()],
                      dtype=np.float64)  # ordered -> deterministic
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.clip(norms, 1e-12, None)
    return _kmeans_lite(sample, n_clusters, seed=seed)


def ivf_topk(vectors: DataFrame, probes: DataFrame, k: int,
             n_clusters: int = 16, nprobe: int = 3,
             vec_col: str = "embedding", id_col: str = "vec_id",
             probe_id: str = "probe_id", probe_vec: str = "probe_vec",
             sample_rows: int = 2000, seed: int = 42,
             centers: np.ndarray | None = None) -> DataFrame:
    """IVF-bucketed approximate top-k: vectors partitioned into centroid
    lists; each probe scans only its ``nprobe`` nearest lists.

    Pass ``centers`` from :func:`kmeans_fit_distributed` for the 100 TB
    path (sqrt(N) lists trained over the full table); the default
    driver-sample trainer is the small-data convenience.  For probe
    TABLES (no driver collect) use :func:`ivf_topk_table`."""
    if centers is None:
        centers = sample_centers(vectors, n_clusters, vec_col, id_col,
                                 sample_rows, seed)
    else:
        n_clusters = len(centers)
        nprobe = min(nprobe, n_clusters)

    assigned = vectors.withColumn("list_id",
                                  _make_assign_udf(centers)(F.col(vec_col)))

    probe_rows = probes.collect()
    cand = []
    for r in probe_rows:
        pv = np.asarray(r[probe_vec], dtype=np.float64)
        pv = pv / max(np.linalg.norm(pv), 1e-12)
        lists = np.argsort(-(centers @ pv))[:nprobe]
        for li in lists:
            cand.append((r[probe_id], int(li), list(r[probe_vec])))
    spark = vectors.sparkSession
    cand_df = F.broadcast(spark.createDataFrame(
        pd.DataFrame(cand, columns=[probe_id, "list_id", probe_vec])))

    j = assigned.join(cand_df, "list_id")
    cos = sim.cosine_col(F.col(vec_col),
                         F.col(probe_vec).cast(T.ArrayType(T.DoubleType())),
                         centers.shape[1])
    w = Window.partitionBy(probe_id).orderBy(F.col("cosine").desc(),
                                             F.col(id_col).asc())
    return (j.withColumn("cosine", F.round(cos, 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(probe_id, id_col, "cosine", "rank"))


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the vector-COMPRESSION tier
# ---------------------------------------------------------------------------
# At 100 TB an embedding column dominates storage and scan cost: dim 64
# float32 = 256 B/vector, while PQ with m=16 one-byte codes is 16 B — a
# 16x scan reduction that turns re-ranking pipelines (PQ shortlist ->
# exact re-score of the shortlist) into a single-machine-per-shard
# problem.  pq_train is driver-side k-means per subspace over a bounded
# sample (codebooks are tiny: m*ksub*dsub floats); pq_encode is one
# Arrow-batched pass (argmin over ksub centroids per subspace);
# pq_topk_table scores with ADC (asymmetric distance: per-probe lookup
# table, then a pure-JVM fold over the code array — the 100 TB scan
# never touches Python OR the original vectors).
#
# Floating-point parity contract with the DuckDB value oracle
# (__spark_entry__.py "pq_topk"): every reduction that feeds a
# comparison or an output is a SEQUENTIAL left-to-right fold — NumPy
# sums over the dsub axis (sequential below the pairwise-summation
# threshold; dsub is 4-8), F.aggregate (a fold), and DuckDB list_reduce
# — so both engines see bit-identical doubles.  Training is NOT
# SQL-replayable (sampled k-means); the oracle query uses the
# deterministic formula codebooks from demo_pq_codebooks and the recall
# of TRAINED codebooks is asserted in tests/test_ann.py.


def _kmeans_l2_np(sample: np.ndarray, n_clusters: int, iters: int = 15,
                  seed: int = 42) -> np.ndarray:
    """Plain (non-spherical) k-means for PQ subspaces — PQ quantizes raw
    subvectors, so centroids must NOT be renormalized."""
    rng = np.random.RandomState(seed)
    centers = sample[rng.choice(len(sample), n_clusters, replace=False)].copy()
    for _ in range(iters):
        d = ((sample[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(axis=1)
        order = np.argsort(assign, kind="stable")
        asort = assign[order]
        starts = np.flatnonzero(np.r_[True, np.diff(asort) > 0])
        sums = np.add.reduceat(sample[order], starts, axis=0)
        cnts = np.diff(np.r_[starts, len(asort)])
        centers[asort[starts]] = sums / cnts[:, None]
    return centers


def pq_train(vectors: DataFrame, m: int = 16, ksub: int = 64,
             vec_col: str = "embedding", dim: int | None = None,
             sample_rows: int = 65536, seed: int = 42) -> np.ndarray:
    """``(m, ksub, dsub)`` float64 codebooks from per-subspace k-means
    over a deterministic sample (the sample is bounded and tiny next to
    the table, the classic PQ training recipe — training data volume
    scales with ``m*ksub``, not with the corpus)."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    assert dim % m == 0, f"dim {dim} must split into m={m} subspaces"
    n = vectors.count()
    frac = min(1.0, sample_rows / max(n, 1))
    rows = (vectors.select(vec_col).sample(False, frac, seed).collect()
            if frac < 1.0 else vectors.select(vec_col).collect())
    x = np.array([r[0] for r in rows], dtype=np.float64)
    dsub = dim // m
    ks = min(ksub, len(x))
    return np.stack([
        _kmeans_l2_np(x[:, s * dsub:(s + 1) * dsub], ks, seed=seed + s)
        for s in range(m)])


def demo_pq_codebooks(dim: int = 64, m: int = 16,
                      ksub: int = 64) -> np.ndarray:
    """Deterministic formula codebooks (Knuth-multiplier values in
    [-1, 1]) shared bit-for-bit with the DuckDB oracle via
    :func:`demo_pq_codebooks_sql`."""
    dsub = dim // m
    flat = np.arange(m * ksub * dsub, dtype=np.int64)
    return (((flat * 2654435761) % 2001) / 1000.0 - 1.0) \
        .reshape(m, ksub, dsub)


def demo_pq_codebooks_sql(dim: int = 64, m: int = 16, ksub: int = 64) -> str:
    """SQL expression for the flattened (m*ksub*dsub) codebook list."""
    return (f"list_transform(range({m * ksub * (dim // m)}), "
            f"i -> ((i * 2654435761) % 2001) / 1000.0 - 1.0)")


def _flat_vectors_arrow(vec_arr, dim: int) -> np.ndarray:
    """(n, dim) float64 from an Arrow list<float64> column — zero per-row
    Python objects (the values buffer is reshaped directly).  A null
    vector, a null element or a vector whose length is not ``dim`` raises
    ``ValueError``."""
    import pyarrow.compute as pc
    flat = vec_arr.flatten()
    lengths = pc.list_value_length(vec_arr)
    if (vec_arr.null_count or flat.null_count
            or not pc.all(pc.equal(lengths, dim), min_count=0).as_py()):
        raise ValueError(f"vectors must be non-null with exactly dim={dim} "
                         f"non-null elements")
    return np.ascontiguousarray(flat.to_numpy(zero_copy_only=False),
                                dtype=np.float64).reshape(len(vec_arr), dim)


def _codes_list_array(codes: np.ndarray):
    """Arrow list<int32> column from an (n, m) int32 matrix without
    materializing n Python list objects."""
    import pyarrow as pa
    n, m = codes.shape
    offsets = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(codes.ravel()))


def pq_encode(vectors: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """``(id_col, codes)`` with ``codes`` = per-subspace nearest-centroid
    index (array<int>, first-minimum tie-break).  One ``mapInArrow`` pass;
    at scale this frame is the 16x-smaller PERSISTED table.

    mapInArrow (not a pandas_udf): both boundaries move FLAT BUFFERS — the
    input list<double> values reshape to (n, dim) with zero per-row
    objects, and the codes ship back as one ListArray built from the flat
    int32 matrix.  The pandas_udf form spent ~2/3 of the encode pass
    building 500k per-row ndarray/list objects on the two crossings (r6
    measured; per-row float64 arithmetic — and hence every code — is
    unchanged, preserving the sequential-fold parity contract with the
    DuckDB oracle)."""
    import pyarrow as pa
    cb = codebooks.astype(np.float64)
    m, ksub, dsub = cb.shape
    dim = m * dsub
    src = vectors.select(F.col(id_col), F.col(vec_col))
    id_field = src.schema.fields[0]
    out_schema = T.StructType(
        [id_field, T.StructField("codes", T.ArrayType(T.IntegerType()))])

    def encode_batches(batches):
        for batch in batches:
            x = _flat_vectors_arrow(batch.column(1), dim)
            out = np.empty((len(x), m), dtype=np.int32)
            # row blocks bound the (rows, ksub, dsub) broadcast temporary
            # to ~16 MB — a full 65k-row Arrow batch allocated 134 MB per
            # subspace op per worker, the glibc mmap/page-fault churn
            # pattern documented at sim._MINHASH_CHUNK_SHINGLES.
            blk = 8192
            for r0 in range(0, len(x), blk):
                xr = x[r0:r0 + blk]
                for s in range(m):
                    xs = xr[:, s * dsub:(s + 1) * dsub]
                    # (rows, ksub, dsub) -> sum over dsub: sequential fold
                    d = ((xs[:, None, :] - cb[s][None, :, :]) ** 2).sum(-1)
                    out[r0:r0 + blk, s] = d.argmin(axis=1)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), _codes_list_array(out)],
                [id_field.name, "codes"])

    return src.mapInArrow(encode_batches, out_schema)


def _adc_dist_expr(m: int, ksub: int):
    """Unrolled ADC distance: the probe-LUT entry selected by each code
    byte, summed over the m subspaces as m straight-line element_at
    additions.  Left-to-right from 0.0 — the exact float64 fold order of
    the previous ``F.aggregate`` form and of the DuckDB list_reduce
    mirror, so distances are bit-identical — but in whole-stage codegen:
    higher-order functions are CodegenFallback, and the interpreted
    per-row fold dominated the ADC scan (r6 measurement)."""
    dist = F.lit(0.0)
    for s in range(m):
        dist = dist + F.element_at(
            "_pq_lut",
            (s * ksub + F.element_at("codes", s + 1) + 1).cast("int"))
    return dist


def pq_topk_table(encoded: DataFrame, probes: DataFrame, k: int,
                  codebooks: np.ndarray, id_col: str = "vec_id",
                  probe_id: str = "probe_id",
                  probe_vec: str = "probe_vec") -> DataFrame:
    """ADC top-k: ``(probe_id, vec_id, adc_dist, rank)`` by squared-L2
    ADC distance (asc, then ``vec_id``).  The probe side (small,
    broadcast) carries its flattened (m*ksub) lookup table; the code
    table is scanned once and scored by a pure-JVM fold — no Python and
    no float vectors in the big-side scan."""
    cb = codebooks.astype(np.float64)
    m, ksub, dsub = cb.shape

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def lut_udf(vec: pd.Series) -> pd.Series:
        q = sim.stack_vectors(vec, dtype=np.float64)
        out = []
        for row in q:
            sub = row.reshape(m, 1, dsub)
            lut = ((sub - cb) ** 2).sum(-1)   # (m, ksub), sequential dsub fold
            out.append(lut.ravel())
        return pd.Series(out)

    pr = probes.select(probe_id, lut_udf(F.col(probe_vec)).alias("_pq_lut"))
    j = encoded.crossJoin(F.broadcast(pr))
    dist = _adc_dist_expr(m, ksub)
    w = Window.partitionBy(probe_id).orderBy(F.col("adc_dist").asc(),
                                             F.col(id_col).asc())
    return (j.withColumn("adc_dist", F.round(dist, 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(probe_id, id_col, "adc_dist", "rank"))


def pq_rerank_topk(vectors: DataFrame, encoded: DataFrame,
                   probes: DataFrame, k: int, shortlist: int,
                   codebooks: np.ndarray,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   probe_id: str = "probe_id",
                   probe_vec: str = "probe_vec") -> DataFrame:
    """Two-stage retrieval (the production PQ recipe): ADC over the
    compressed code table picks a ``shortlist`` per probe, then ONLY the
    shortlisted vectors are re-scored exactly (squared L2, a sequential
    JVM ``zip_with`` fold) and the top ``k`` kept.  The expensive exact
    math thus touches ``|probes| * shortlist`` rows instead of the
    corpus; the shortlist frame is broadcast into the vector table join,
    so the full-width embedding column is scanned once and filtered
    map-side.  Returns ``(probe_id, vec_id, l2_dist, rank)``."""
    cand = (pq_topk_table(encoded, probes, shortlist, codebooks,
                          id_col=id_col, probe_id=probe_id,
                          probe_vec=probe_vec)
            .select(probe_id, id_col))
    j = (vectors.join(F.broadcast(cand), id_col)
         .join(F.broadcast(probes), probe_id))
    dist = F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"),
                   F.col(probe_vec).cast("array<double>"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy(probe_id).orderBy(F.col("l2_dist").asc(),
                                             F.col(id_col).asc())
    return (j.withColumn("l2_dist", F.round(dist, 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(probe_id, id_col, "l2_dist", "rank"))


# ---------------------------------------------------------------------------
# IVF-PQ — the billion-scale combination (Jégou et al. 2011, FAISS
# IndexIVFPQ shape, non-residual variant): coarse quantizer routes each
# probe to nprobe inverted lists, ADC scores ONLY the PQ codes in those
# lists.  Candidate volume drops from |corpus| to ~|corpus|*nprobe/nlist
# per probe while the scan side stays 16x-compressed codes.
#
# PARITY CONTRACT (same as PQ above): every L2 reduction is sequential
# and SUBSPACE-SHAPED — d2(x, c) = fold over m subspaces of (fold over
# dsub dims) — in the NumPy UDFs (python loop over subspaces, dsub < 8
# so the inner np sum is sequential), in the JVM fold, and in the DuckDB
# nested list_reduce.  That makes assignment, routing, and ADC
# bit-identical across all three engines, so the oracle can replay the
# whole index.
# ---------------------------------------------------------------------------


def demo_ivf_centers(dim: int = 64, nlist: int = 16) -> np.ndarray:
    """Deterministic formula coarse centers (Lehmer-multiplier values in
    [-1, 1]); SQL twin :func:`demo_ivf_centers_sql`."""
    flat = np.arange(nlist * dim, dtype=np.int64)
    return (((flat * 48271) % 2001) / 1000.0 - 1.0).reshape(nlist, dim)


def demo_ivf_centers_sql(dim: int = 64, nlist: int = 16) -> str:
    return (f"list_transform(range({nlist * dim}), "
            f"i -> ((i * 48271) % 2001) / 1000.0 - 1.0)")


def _subspace_l2(x: np.ndarray, centers: np.ndarray, m: int,
                 dsub: int) -> np.ndarray:
    """(rows, n_centers) squared L2 accumulated SEQUENTIALLY over the m
    subspaces (inner dsub sum is sequential for dsub < 8) — the parity
    shape shared with the SQL nested list_reduce."""
    acc = np.zeros((len(x), len(centers)), dtype=np.float64)
    for s in range(m):
        xs = x[:, s * dsub:(s + 1) * dsub]
        cs = centers[:, s * dsub:(s + 1) * dsub]
        acc = acc + ((xs[:, None, :] - cs[None, :, :]) ** 2).sum(-1)
    return acc


def ivfpq_encode(vectors: DataFrame, centers: np.ndarray,
                 codebooks: np.ndarray, vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """``(id, list_id, codes)`` — the persisted IVF-PQ index table:
    coarse L2 assignment (first-minimum) + PQ codes in ONE Arrow pass.
    At 100 TB this frame is written through the snapshot layer
    partitioned by list_id, so a query touches only routed partitions."""
    cc = centers.astype(np.float64)
    cb = codebooks.astype(np.float64)
    m, ksub, dsub = cb.shape
    dim = cc.shape[1]
    assert dim == m * dsub

    @pandas_udf(T.StructType([
        T.StructField("list_id", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.IntegerType()))]))
    def enc_udf(vec: pd.Series) -> pd.DataFrame:
        x = sim.stack_vectors(vec, dtype=np.float64)
        lists = np.empty(len(x), dtype=np.int32)
        codes = np.empty((len(x), m), dtype=np.int32)
        # row blocks bound the broadcast temporaries (see encode_udf)
        blk = 8192
        for r0 in range(0, len(x), blk):
            xr = x[r0:r0 + blk]
            lists[r0:r0 + blk] = (_subspace_l2(xr, cc, m, dsub)
                                  .argmin(axis=1).astype(np.int32))
            for s in range(m):
                xs = xr[:, s * dsub:(s + 1) * dsub]
                d = ((xs[:, None, :] - cb[s][None, :, :]) ** 2).sum(-1)
                codes[r0:r0 + blk, s] = d.argmin(axis=1)
        return pd.DataFrame({"list_id": lists,
                             "codes": sim._sig_series(codes)})

    enc = vectors.select(F.col(id_col), enc_udf(F.col(vec_col)).alias("_e"))
    return enc.select(id_col, F.col("_e.list_id").alias("list_id"),
                      F.col("_e.codes").alias("codes"))


def ivfpq_topk_table(encoded: DataFrame, probes: DataFrame, k: int,
                     nprobe: int, centers: np.ndarray,
                     codebooks: np.ndarray, id_col: str = "vec_id",
                     probe_id: str = "probe_id",
                     probe_vec: str = "probe_vec") -> DataFrame:
    """ADC top-k restricted to each probe's ``nprobe`` routed lists:
    probes (small) carry their flattened LUT and explode to list ids,
    the broadcast join on ``list_id`` prunes the code scan map-side,
    and scoring is the same pure-JVM fold as :func:`pq_topk_table`.
    Exact at ``nprobe == nlist`` (== pq_topk_table output)."""
    cc = centers.astype(np.float64)
    cb = codebooks.astype(np.float64)
    m, ksub, dsub = cb.shape

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def route_udf(vec: pd.Series) -> pd.Series:
        q = sim.stack_vectors(vec, dtype=np.float64)
        d = _subspace_l2(q, cc, m, dsub)
        order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def lut_udf(vec: pd.Series) -> pd.Series:
        q = sim.stack_vectors(vec, dtype=np.float64)
        out = []
        for row in q:
            sub = row.reshape(m, 1, dsub)
            out.append(((sub - cb) ** 2).sum(-1).ravel())
        return pd.Series(out)

    pr = (probes.select(probe_id,
                        lut_udf(F.col(probe_vec)).alias("_pq_lut"),
                        F.explode(route_udf(F.col(probe_vec)))
                        .alias("list_id")))
    j = encoded.join(F.broadcast(pr), "list_id")
    dist = _adc_dist_expr(m, ksub)
    w = Window.partitionBy(probe_id).orderBy(F.col("adc_dist").asc(),
                                             F.col(id_col).asc())
    return (j.withColumn("adc_dist", F.round(dist, 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(probe_id, id_col, "adc_dist", "rank"))


# ---------------------------------------------------------------------------
# Scalar quantization (int8 SQ) — the simplest vector-compression tier
# ---------------------------------------------------------------------------
# Between raw floats and PQ sits SQ: per-dimension min/max ranges map
# each component to an 8-bit level (FAISS IndexScalarQuantizer shape).
# 4x smaller scans than float32 with near-exact recall at modest dims.
# Everything here is JVM codegen — no UDF anywhere: training is ONE
# aggregate scan (per-dim min/max are order-free, so the DuckDB oracle
# REPLAYS TRAINING TOO — no demo-formula fallback needed), encoding is
# a HOF over the double-cast vector, and the asymmetric distance is an
# INTEGER zip_with fold: sum((qa - qb)^2) — exact, no float-order
# caveats in the whole pipeline.


def sq_train(vectors: DataFrame, dim: int,
             vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (mins, maxs) over the full table — one partial-agg
    scan, exact and deterministic."""
    v = F.col(vec_col).cast("array<double>")
    row = vectors.select(
        *[F.min(F.element_at(v, i + 1)).alias(f"mn{i}") for i in range(dim)],
        *[F.max(F.element_at(v, i + 1)).alias(f"mx{i}") for i in range(dim)]
    ).collect()[0]
    return ([row[f"mn{i}"] for i in range(dim)],
            [row[f"mx{i}"] for i in range(dim)])


def _sq_code(v: "F.Column", mins_lit, spans_lit):
    """255-level quantizer: floor((x - mn) / span * 255) clamped to
    [0, 255]; zero spans quantize to 0 (span literals pre-guarded)."""
    return F.zip_with(
        v, F.arrays_zip(mins_lit.alias("mn"), spans_lit.alias("sp")),
        lambda x, m: F.least(
            F.greatest(F.floor((x - m["mn"]) / m["sp"] * 255.0), F.lit(0)),
            F.lit(255)).cast("int"))


def sq_encode(vectors: DataFrame, mins: list, maxs: list,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """``(id, codes array<int>)`` — the 4x-compressed persisted table."""
    spans = [mx - mn if mx > mn else 1.0 for mn, mx in zip(mins, maxs)]
    mins_lit = F.array(*[F.lit(float(m)) for m in mins])
    spans_lit = F.array(*[F.lit(float(s)) for s in spans])
    v = F.col(vec_col).cast("array<double>")
    return vectors.select(F.col(id_col),
                          _sq_code(v, mins_lit, spans_lit).alias("codes"))


def sq_topk_table(encoded: DataFrame, probes: DataFrame, k: int,
                  mins: list, maxs: list, id_col: str = "vec_id",
                  probe_id: str = "probe_id",
                  probe_vec: str = "probe_vec") -> DataFrame:
    """Symmetric quantized top-k: probes quantize with the SAME ranges
    and score against the code table with an integer fold —
    ``(probe_id, vec_id, sq_dist, rank)`` by quantized squared L2 (asc,
    then vec_id).  The scan side never touches floats."""
    spans = [mx - mn if mx > mn else 1.0 for mn, mx in zip(mins, maxs)]
    mins_lit = F.array(*[F.lit(float(m)) for m in mins])
    spans_lit = F.array(*[F.lit(float(s)) for s in spans])
    pv = F.col(probe_vec).cast("array<double>")
    pr = probes.select(probe_id,
                       _sq_code(pv, mins_lit, spans_lit).alias("_pcodes"))
    j = encoded.crossJoin(F.broadcast(pr))
    dist = F.aggregate(
        F.zip_with(F.col("codes"), F.col("_pcodes"),
                   lambda a, b: (a - b).cast("bigint")
                   * (a - b).cast("bigint")),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    w = Window.partitionBy(probe_id).orderBy(F.col("sq_dist").asc(),
                                             F.col(id_col).asc())
    return (j.withColumn("sq_dist", dist)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(probe_id, id_col, "sq_dist", "rank"))


def sq_sql(probes_pred: str, dim: int, k: int,
           table: str = "embeddings", vec_col: str = "embedding",
           id_col: str = "vec_id") -> str:
    """DuckDB replay of train + encode + top-k (``probes_pred`` selects
    the probe rows out of the same table)."""
    mins = ", ".join(f"min({vec_col}[{i + 1}]::DOUBLE)"
                     for i in range(dim))
    maxs = ", ".join(f"max({vec_col}[{i + 1}]::DOUBLE)"
                     for i in range(dim))
    code = (f"list_transform(range(1, {dim} + 1), i -> "
            f"cast(least(greatest(floor((v.emb[i]::DOUBLE - r.mins[i]) / "
            f"r.spans[i] * 255.0), 0), 255) as int))")
    return f"""
WITH _sq_rng AS (
  SELECT [{mins}] AS mins, [{maxs}] AS maxs FROM {table}
), _sq_sp AS (
  SELECT mins,
         list_transform(range(1, {dim} + 1),
           i -> CASE WHEN maxs[i] > mins[i] THEN maxs[i] - mins[i]
                     ELSE 1.0 END) AS spans
  FROM _sq_rng
), _sq_enc AS (
  SELECT v.{id_col} AS vid, {code} AS codes
  FROM (SELECT {id_col}, {vec_col} AS emb FROM {table}) v, _sq_sp r
), _sq_pr AS (
  SELECT v.{id_col} AS pid, {code} AS pcodes
  FROM (SELECT {id_col}, {vec_col} AS emb FROM {table}
        WHERE {probes_pred}) v, _sq_sp r
), _sq_d AS (
  SELECT p.pid, e.vid,
         list_sum(list_transform(range(1, {dim} + 1),
           i -> cast(e.codes[i] - p.pcodes[i] as bigint)
                * cast(e.codes[i] - p.pcodes[i] as bigint))) AS sq_dist
  FROM _sq_enc e, _sq_pr p
)
SELECT pid AS probe_id, vid AS {id_col},
       cast(sq_dist as bigint) AS sq_dist,
       cast(row_number() OVER (PARTITION BY pid
            ORDER BY sq_dist ASC, vid ASC) as int) AS rank
FROM _sq_d QUALIFY rank <= {k}"""


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication (Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space, then deduplicate ONLY within clusters, so
# the quadratic pair cost is bounded per cluster instead of corpus-wide.
# At 100 TB: assignment is one Arrow scan; the within-cluster self-join
# shuffles on list_id only; k is chosen ~sqrt(N) in production so expected
# cluster size is N/k — a degenerate hot cluster is the same skew class as
# an LSH mega-bucket (cap or re-cluster; stated, not silently truncated).
# Assignment uses the subspace-sequential L2 contract (_subspace_l2), so a
# SQL oracle can replay cluster membership bit-identically.
# ---------------------------------------------------------------------------


def semdedup_assign(vectors: DataFrame, centers: np.ndarray,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    dsub: int = 4) -> DataFrame:
    """``(id, v array<double>, list_id)`` — nearest-center assignment under
    the subspace-sequential squared-L2 parity contract (first minimum wins,
    same tie-break as ``np.argmin`` and SQL ``list_position(l, list_min)``)."""
    cc = centers.astype(np.float64)
    dim = cc.shape[1]
    assert dim % dsub == 0
    m = dim // dsub

    @pandas_udf("int")
    def assign_udf(vec: pd.Series) -> pd.Series:
        x = sim.stack_vectors(vec, dtype=np.float64)
        return pd.Series(
            _subspace_l2(x, cc, m, dsub).argmin(axis=1).astype(np.int32))

    return vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        assign_udf(F.col(vec_col)).alias("list_id"))


def semdedup_keep(vectors: DataFrame, centers: np.ndarray, tau: float,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  dsub: int = 4) -> DataFrame:
    """Keep a vector iff NO lower-id vector in its cluster has cosine >=
    ``tau`` with it — the deterministic variant of SemDeDup's
    keep-one-per-duplicate-group rule (lowest id is the canonical keeper;
    greedy-by-id equals the paper's random-keeper semantics up to which
    representative survives).  Returns ``(vec_id, list_id)`` of keepers.

    Cosines are rounded to 6 dp BEFORE the threshold compare (the
    embedding_neardup contract) so the oracle's replay decides membership
    on the identical double."""
    from geolake_spark.operators.dedup import _persist_tier
    # persisted: feeds both self-join sides and the anti-join base
    enc = _persist_tier(semdedup_assign(vectors, centers,
                                        vec_col, id_col, dsub))
    a = enc.select(F.col("list_id"), F.col("id").alias("id_a"),
                   F.col("v").alias("v_a"))
    b = enc.select(F.col("list_id"), F.col("id").alias("id_b"),
                   F.col("v").alias("v_b"))
    dropped = (a.join(b, "list_id")
               .filter(F.col("id_a") < F.col("id_b"))
               .withColumn("cosine", F.round(
                   sim.cosine_col(F.col("v_a"), F.col("v_b"),
                                  centers.shape[1]), 6))
               .filter(F.col("cosine") >= tau)
               .select(F.col("id_b").alias("id")).distinct())
    return (enc.join(dropped, "id", "left_anti")
            .select(F.col("id").alias(id_col), "list_id"))
