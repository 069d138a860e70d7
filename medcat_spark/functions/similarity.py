"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (JVM-side zip_with /
aggregate — no Python), plus a sign-bucket LSH variant as the scale
path: bucket by the sign pattern of a fixed dim subset, probe only the
query's bucket (optionally with 1-bit flips), so the scan cost drops by
~2^probe_dims while recall stays high for clustered data.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _lit_vec(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(embeddings: DataFrame, query_vec: Sequence[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id",
                round_to: int = 6) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to a literal query
    vector; deterministic tie-break on id.  The global top-k is a
    TakeOrderedAndProject (no full sort shuffle)."""
    q = _lit_vec(query_vec)
    scored = embeddings.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), round_to)
        .alias("sim"))
    return scored.orderBy(F.desc("sim"), F.col(id_col)).limit(k)


def sign_bucket(vec_col: Column, dims: List[int]) -> Column:
    """Bucket id = concatenated sign bits of the chosen dims."""
    return F.concat(*[
        F.when(F.element_at(vec_col, d + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for d in dims])


def _flip(bucket: str, i: int) -> str:
    return bucket[:i] + ("0" if bucket[i] == "1" else "1") + bucket[i + 1:]


def probe_buckets(qbucket: str, n_flips: int = 0) -> List[str]:
    """Multi-probe bucket set: the query's bucket plus all buckets
    within Hamming distance ``n_flips`` (standard multi-probe LSH —
    recall control without rebuilding the index)."""
    out = {qbucket}
    frontier = {qbucket}
    for _ in range(n_flips):
        frontier = {_flip(b, i) for b in frontier for i in range(len(b))}
        out |= frontier
    return sorted(out)


def cosine_topk_lsh(embeddings: DataFrame, query_vec: Sequence[float],
                    k: int = 10, probe_dims: int = 4, n_flips: int = 0,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    round_to: int = 6) -> DataFrame:
    """Approximate top-k: scan only rows whose sign-bucket (over the
    first ``probe_dims`` dims) is within Hamming distance ``n_flips``
    of the query's bucket (multi-probe; n_flips=0 = single-bucket probe,
    each +1 multiplies scanned buckets by ~probe_dims while recall
    approaches exact).

    At 100 TB the bucket column is a partition/cluster key so the probe
    is a partition-pruned scan of |probes| partitions, not a full pass.
    """
    dims = list(range(probe_dims))
    qbucket = "".join("1" if float(query_vec[d]) >= 0 else "0" for d in dims)
    probes = probe_buckets(qbucket, n_flips)
    cand = embeddings.where(
        sign_bucket(F.col(vec_col), dims).isin(probes))
    return cosine_topk(cand, query_vec, k, vec_col, id_col, round_to)


def pairwise_cosine_within(df: DataFrame, group_col: str,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           min_sim: float = 0.9,
                           round_to: int = 6,
                           max_group_size: int = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking group —
    the EXACT all-pairs baseline.  The scale path is pairwise_cosine_lsh
    (linear join input); prefer it whenever groups can grow with the
    corpus.  ``max_group_size`` guards the quadratic blow-up the same
    way dedup's LSH ``max_bucket_size`` does: groups above the cap are
    dropped from pair generation (route those through the LSH path or an
    exact-dup pass instead of materializing |g|² pairs)."""
    base = df
    if max_group_size is not None:
        from pyspark.sql.window import Window
        gsz = Window.partitionBy(group_col)
        base = (df.withColumn("_gsz", F.count("*").over(gsz))
                .where(F.col("_gsz") <= max_group_size).drop("_gsz"))
    a = base.select(F.col(group_col).alias("g"), F.col(id_col).alias("id_a"),
                    F.col(vec_col).cast("array<double>").alias("va"))
    b = base.select(F.col(group_col).alias("g"), F.col(id_col).alias("id_b"),
                    F.col(vec_col).cast("array<double>").alias("vb"))
    return (a.join(b, "g").where(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", F.round(cosine(F.col("va"), F.col("vb")), round_to))
            .where(F.col("sim") >= min_sim)
            .select("g", "id_a", "id_b", "sim"))


def pairwise_cosine_lsh(df: DataFrame, probe_dims: int = 4,
                        n_flips: int = 1, vec_col: str = "embedding",
                        id_col: str = "vec_id", min_sim: float = 0.9,
                        round_to: int = 6) -> DataFrame:
    """Embedding near-duplicate pairs routed through sign-bucket LSH
    instead of an all-pairs join (the scale path for emb near-dup —
    highly-cosine-similar vectors share their sign pattern with high
    probability, and ``n_flips`` recovers pairs that differ in up to
    that many sign bits).

    Plan: each row emits its canonical bucket once and its probe
    variants (every bucket within Hamming distance ``n_flips`` — all
    bit-index subsets of size ≤ n_flips are flipped, so multi-bit
    variants are really generated, not just single flips); probes(a) ⋈
    canonical(b) on the bucket key covers every pair within Hamming
    distance ``n_flips`` symmetrically.  Join input is
    |rows|·Σ_{j≤n_flips} C(probe_dims, j) vs the group cross-product of
    pairwise_cosine_within — linear in rows, and the bucket key shards
    evenly.
    """
    from itertools import combinations

    dims = list(range(probe_dims))
    bits = [F.when(F.element_at(F.col(vec_col), d + 1) >= 0,
                   F.lit("1")).otherwise(F.lit("0")) for d in dims]
    canonical = F.concat(*bits)
    variant_cols = []
    for r in range(min(max(n_flips, 0), probe_dims) + 1):
        for idxs in combinations(range(probe_dims), r):
            variant_cols.append(F.concat(*[
                F.when(bits[i] == "1", F.lit("0")).otherwise(F.lit("1"))
                if i in idxs else bits[i]
                for i in range(probe_dims)]))

    probes = df.select(F.col(id_col).alias("id_a"),
                       F.col(vec_col).cast("array<double>").alias("va"),
                       F.explode(F.array_distinct(
                           F.array(*variant_cols))).alias("bucket"))
    canon = df.select(F.col(id_col).alias("id_b"),
                      F.col(vec_col).cast("array<double>").alias("vb"),
                      canonical.alias("bucket"))
    return (probes.join(canon, "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
            .withColumn("sim",
                        F.round(cosine(F.col("va"), F.col("vb")), round_to))
            .where(F.col("sim") >= min_sim)
            .select("id_a", "id_b", "sim"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + cluster probing —
# the second scale path the training-data brief names besides LSH.
# ---------------------------------------------------------------------------

def kmeans_centroids(vectors, k: int, iters: int = 10, seed: int = 7):
    """Deterministic Lloyd's k-means over a TRAINING SAMPLE (numpy;
    IVF quantizers are trained on a sample at any scale — FAISS does
    exactly this — so the driver-side fit is the production shape, not
    a shortcut).  Returns (k, dim) float64 centroids."""
    import numpy as np
    X = np.asarray(vectors, dtype=np.float64)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(C)):
            m = X[assign == j]
            if len(m):
                C[j] = m.mean(axis=0)
    return np.round(C, 6)  # rounded so Spark and SQL agree bit-for-bit


def _sq_dist(vec_col: Column, centroid) -> Column:
    return F.aggregate(
        F.zip_with(vec_col, _lit_vec(centroid), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, x: acc + x)


def ivf_assign(vec_col: Column, centroids) -> Column:
    """Cluster id = argmin squared distance to the centroid list (first
    min wins) — pure codegen over literal centroids."""
    dists = F.array(*[F.round(_sq_dist(vec_col, c), 9) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def write_ivf_partitioned(df: DataFrame, centroids, path: str,
                          vec_col: str = "embedding",
                          cluster_col: str = "ivf_cluster") -> None:
    """Materialize the IVF index layout: assign every row its coarse
    cluster ONCE at write time and partition the table by the cluster id
    (the parquet analogue of an Iceberg identity-partition on the
    cluster column).  Probes against this layout are partition-pruned
    directory scans of n_probe/n_centroids of the data — the 100 TB
    posture cosine_topk_ivf's docstring promises, made real."""
    (df.withColumn(cluster_col,
                   ivf_assign(F.col(vec_col).cast("array<double>"),
                              centroids))
       .write.mode("overwrite").partitionBy(cluster_col).parquet(path))


def cosine_topk_ivf_pruned(spark, path: str, query_vec: Sequence[float],
                           centroids, k: int = 10, n_probe: int = 2,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id", round_to: int = 6,
                           cluster_col: str = "ivf_cluster") -> DataFrame:
    """IVF probe over a write_ivf_partitioned layout: the cluster filter
    lands on the partition column, so the scan's PartitionFilters prune
    non-probed directories (plan-asserted in tests) instead of
    recomputing ivf_assign over the full table per query."""
    import numpy as np
    q = np.asarray(query_vec, dtype=np.float64)
    qd = np.round(((np.asarray(centroids) - q) ** 2).sum(axis=1), 9)
    probes = [int(i) for i in np.argsort(qd, kind="stable")[:n_probe]]
    cand = spark.read.parquet(path).where(F.col(cluster_col).isin(probes))
    return cosine_topk(cand, query_vec, k, vec_col, id_col, round_to)


def cosine_topk_ivf(embeddings: DataFrame, query_vec: Sequence[float],
                    k: int = 10, n_centroids: int = 8, n_probe: int = 2,
                    train_sample: int = 1024, seed: int = 7,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    round_to: int = 6,
                    centroids=None) -> DataFrame:
    """IVF ANN top-k: scan only the ``n_probe`` clusters whose centroids
    are nearest the query.  At 100 TB the cluster id is a partition key
    (one write-time assignment pass), so the probe is a partition-pruned
    scan of n_probe/n_centroids of the data.
    """
    import numpy as np
    if centroids is None:
        # order-stable sample so any engine refits identical centroids
        sample = [r["v"] for r in embeddings
                  .select(F.col(id_col), F.col(vec_col).alias("v"))
                  .orderBy(id_col).limit(train_sample).collect()]
        centroids = kmeans_centroids(sample, n_centroids, seed=seed)
    q = np.asarray(query_vec, dtype=np.float64)
    qd = np.round(((centroids - q) ** 2).sum(axis=1), 9)
    probes = [int(i) for i in np.argsort(qd, kind="stable")[:n_probe]]
    cand = embeddings.where(
        ivf_assign(F.col(vec_col).cast("array<double>"), centroids)
        .isin(probes))
    return cosine_topk(cand, query_vec, k, vec_col, id_col, round_to)


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication"): k-means-cluster the
# embedding space, find intra-cluster pairs above a cosine threshold,
# group them into duplicate components, and keep exactly one member per
# component — the one FURTHEST from its cluster centroid (the paper's
# keep-low-centroid-similarity rule, which preserves diversity).
# ---------------------------------------------------------------------------

def semantic_dedup(embeddings: DataFrame, centroids=None,
                   n_centroids: int = 8, eps: float = 0.95,
                   train_sample: int = 1024, seed: int = 7,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   round_to: int = 6,
                   max_cluster_size: int = None) -> DataFrame:
    """(vec_id, cluster, component, centroid_sim, is_keeper) for EVERY
    input row.

    Scale shape: the quantizer is sample-trained (exactly like
    cosine_topk_ivf); assignment + centroid cosine are pure codegen over
    literal centroids; the quadratic step is confined within clusters
    (``max_cluster_size`` guards hot clusters the way LSH's
    max_bucket_size does — at 100 TB you raise n_centroids so clusters
    stay bounded, which is the paper's own configuration); components
    run on the pair relation only (min-label propagation + pointer
    jumping); the keeper decision is one window over the component key.
    Rows in no duplicate pair are singleton components of themselves and
    always keepers.
    """
    from pyspark.sql.window import Window

    from medcat_spark.functions.dedup import connected_components

    if centroids is None:
        sample = [r["v"] for r in embeddings
                  .select(F.col(id_col), F.col(vec_col).alias("v"))
                  .orderBy(id_col).limit(train_sample).collect()]
        centroids = kmeans_centroids(sample, n_centroids, seed=seed)

    vec = F.col(vec_col).cast("array<double>")
    cos_all = F.array(*[F.round(cosine(vec, _lit_vec(c)), round_to)
                        for c in centroids])
    assigned = (embeddings
                .withColumn("cluster", ivf_assign(vec, centroids))
                .withColumn("centroid_sim",
                            F.element_at(cos_all, F.col("cluster") + 1)))

    pairs = pairwise_cosine_within(
        assigned, "cluster", vec_col=vec_col, id_col=id_col,
        min_sim=eps, round_to=round_to, max_group_size=max_cluster_size)
    comp = connected_components(pairs, src="id_a", dst="id_b") \
        .withColumnRenamed("doc_id", id_col)

    labelled = (assigned.select(id_col, "cluster", "centroid_sim")
                .join(comp, id_col, "left")
                .withColumn("component",
                            F.coalesce("component", F.col(id_col)))
                .drop("node"))
    w = Window.partitionBy("component").orderBy("centroid_sim", id_col)
    return (labelled
            .withColumn("is_keeper", F.row_number().over(w) == 1)
            .select(id_col, "cluster", "component", "centroid_sim",
                    "is_keeper"))


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the 100 TB ANN memory path.
# A D-dim vector becomes m sub-codes (argmin centroid per subspace);
# query scoring is ADC — one literal lookup table per query, distance =
# Σ_s lut[s][code_s].  The corpus shrinks from D floats to m small ints
# per row, and scoring is pure codegen (no vector math per row at all).
# Codebooks are sample-trained like the IVF quantizer (kmeans_centroids
# per subspace) or fixed constants for the oracle query.
# ---------------------------------------------------------------------------


def train_pq_codebooks(vectors, m: int = 4, k: int = 8, iters: int = 10,
                       seed: int = 7):
    """Per-subspace k-means over a training sample → (m, k, D/m)
    codebooks, rounded 6 dp (the Spark/SQL agreement contract)."""
    import numpy as np
    X = np.asarray(vectors, dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack([
        kmeans_centroids(X[:, s * dsub:(s + 1) * dsub], k, iters,
                         seed + s)
        for s in range(m)])


def pq_encode(embeddings: DataFrame, codebooks,
              vec_col: str = "embedding") -> DataFrame:
    """Append ``pq_code`` (array<int>, length m): per subspace the
    argmin-distance codebook entry (distances rounded 6 dp before the
    argmin, lowest index on ties — the cross-engine determinism rule).
    Pure codegen: slice + literal-centroid distance per entry."""
    import numpy as np
    cbs = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = cbs.shape
    codes = []
    for s in range(m):
        sub = F.slice(F.col(vec_col), s * dsub + 1, dsub)
        dists = F.array(*[F.round(_sq_dist_arr(sub, cbs[s, j]), 6)
                          for j in range(k)])
        codes.append((F.array_position(dists, F.array_min(dists)) - 1)
                     .cast("int"))
    return embeddings.withColumn("pq_code", F.array(*codes))


def _sq_dist_arr(sub_col: Column, centroid) -> Column:
    return F.aggregate(
        F.zip_with(sub_col, _lit_vec(centroid),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda acc, x: acc + x)


def pq_topk(embeddings: DataFrame, query_vec, codebooks, k: int = 10,
            vec_col: str = "embedding",
            id_col: str = "vec_id") -> DataFrame:
    """ADC top-k over PQ codes: the query's per-subspace distance to
    every codebook entry becomes an (m × k_cb) LITERAL lookup table
    (entries rounded 6 dp), and each row's approximate distance is the
    sum of m array lookups — zero per-row vector arithmetic, which is
    the point at 100 TB: the scan reads m small ints per row instead of
    D floats.  Deterministic order: (pq_dist, vec_id)."""
    import numpy as np
    cbs = np.asarray(codebooks, dtype=np.float64)
    m, kcb, dsub = cbs.shape
    q = np.asarray(query_vec, dtype=np.float64)
    lut = np.round(((q.reshape(m, dsub)[:, None, :] - cbs) ** 2)
                   .sum(axis=2), 6)
    enc = pq_encode(embeddings, cbs, vec_col)
    lut_col = F.array(*[F.array(*[F.lit(float(lut[s, j]))
                                  for j in range(kcb)])
                        for s in range(m)])
    dist = sum(
        (F.element_at(F.element_at(lut_col, s + 1),
                      F.element_at("pq_code", s + 1) + 1)
         for s in range(m)),
        start=F.lit(0.0))
    return (enc.select(id_col, F.round(dist, 6).alias("pq_dist"))
            .orderBy("pq_dist", id_col).limit(k))


def pq_topk_ivf(embeddings: DataFrame, query_vec, centroids, codebooks,
                k: int = 10, n_probe: int = 2,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """IVF-PQ (the FAISS IVFPQ composition): coarse quantizer prunes to
    the n_probe nearest clusters, ADC scores only the survivors — at
    100 TB the scan touches n_probe/n_clusters of the codes, and the
    codes are m ints, not D floats.  Probe selection is driver-side
    over the literal centroid list (rounded 9 dp, cid tie-break, same
    rule as the SQL oracle)."""
    import numpy as np
    cen = np.asarray(centroids, dtype=np.float64)
    qv = np.asarray(query_vec, dtype=np.float64)
    d = np.round(((cen - qv) ** 2).sum(axis=1), 9)
    probe = [int(i) for i in np.lexsort((np.arange(len(cen)), d))[:n_probe]]
    cand = embeddings.where(
        ivf_assign(F.col(vec_col), cen).isin(probe))
    return pq_topk(cand, query_vec, codebooks, k, vec_col, id_col)
