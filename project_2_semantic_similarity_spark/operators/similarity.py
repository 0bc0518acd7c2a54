"""Similarity search over embedding columns (SURVEY.md §2.B
knn_*): brute-force cosine top-k as the exact baseline, a
random-hyperplane-LSH bucketed variant as the scale path, and
label-centroid utilities.

Scale design: brute force is a broadcast of ONE query row against a
full scan — linear, embarrassingly parallel, the right answer for
one-off queries even at 100 TB. For all-pairs / high-QPS workloads
the LSH variant buckets vectors by sign patterns of random
projections so candidate generation is an equi-join on the bucket
key (IVF-style partition pruning would use a learned codebook
instead; same join shape)."""

from __future__ import annotations

import math
from collections.abc import Hashable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_2_semantic_similarity_spark.functions import (
    cosine_similarity,
    dot,
    l2_norm,
)
from project_2_semantic_similarity_spark.operators.cache import (
    gate, keyed_persist, keyed_value)
from project_2_semantic_similarity_spark.session import local_frame


def knn_brute_force(embeddings: DataFrame, query_vec_id: int, k: int,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector. The query
    row (1 row) joins by broadcast cross-join; the scan stays fully
    parallel; top-k plans as TakeOrderedAndProject."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qvec"))
    return (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(
            id_col,
            cosine_similarity(vec_col, "__qvec").alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (pure
    python stdlib RNG — stable across runs/machines)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(n_planes)]


def hyperplanes_rademacher(dim: int, n_planes: int,
                           seed: int) -> list[list[float]]:
    """±1 (Rademacher) hyperplane components, each the low md5 bit of
    ``"{seed}:{plane}:{coord}"`` — sign-LSH with ±1 projections is the
    standard cheap variant of Charikar's random-hyperplane scheme
    (Achlioptas 2003 shows ±1 projections preserve the JL guarantees
    of gaussians). The draw is hashlib.md5, so the plane matrix is a
    pure function of (seed, dim, n_planes) that ANY md5-capable
    system reproduces — which lets a SQL oracle re-derive the exact
    buckets (the same portability contract as
    operators/dedup.py portable_hash60)."""
    import hashlib

    return [
        [1.0 if (hashlib.md5(f"{seed}:{i}:{j}".encode())
                 .digest()[-1] & 1) else -1.0
         for j in range(dim)]
        for i in range(n_planes)
    ]


def _planes(dim: int, n_planes: int, seed: int,
            plane_family: str) -> list[list[float]]:
    return (hyperplanes_rademacher(dim, n_planes, seed)
            if plane_family == "rademacher"
            else _hyperplanes(dim, n_planes, seed))


def lsh_bucket(embeddings: DataFrame, dim: int, n_planes: int = 8,
               seed: int = 42, vec_col: str = "embedding",
               plane_family: str = "gauss"):
    """Attach a sign-pattern bucket id: bit i = sign(v · plane_i)."""
    planes = _planes(dim, n_planes, seed, plane_family)
    bucket = sum(
        F.when(dot(F.col(vec_col),
                   F.array(*[F.lit(x) for x in p])) > 0,
               F.lit(2 ** i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        for i, p in enumerate(planes)
    )
    return embeddings.withColumn("bucket", bucket)


def knn_lsh(embeddings: DataFrame, query_vec_id: int, k: int, dim: int,
            n_planes: int = 8, seed: int = 42,
            id_col: str = "vec_id", vec_col: str = "embedding",
            plane_family: str = "gauss") -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, exact cosine re-ranking inside it. Recall is tunable via
    n_planes (fewer planes → bigger buckets → higher recall)."""
    bucketed = lsh_bucket(embeddings, dim, n_planes, seed, vec_col,
                          plane_family)
    qb = bucketed.filter(F.col(id_col) == query_vec_id).select(
        F.col("bucket").alias("__qb"), F.col(vec_col).alias("__qvec"))
    return (
        bucketed.join(F.broadcast(qb), F.col("bucket") == F.col("__qb"))
        .filter(F.col(id_col) != query_vec_id)
        .select(id_col,
                cosine_similarity(vec_col, "__qvec").alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def label_centroids(embeddings: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Element-wise mean vector per label: posexplode → per-(label,
    position) average → re-assemble ordered array. Two shuffles,
    both on small keys. It is the codebook of ``knn_ivf`` and the
    label-centroid consumers; the k-means fit does not use it (its
    Lloyd step sums per-task partials instead, see ``_kmeans_fit``),
    because the exploded shuffle is n×dim rows per call."""
    exploded = embeddings.select(
        label_col, F.posexplode(vec_col).alias("pos", "val"))
    by_pos = exploded.groupBy(label_col, "pos").agg(
        F.avg(F.col("val").cast("double")).alias("avg_val"))
    return (
        by_pos.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "avg_val")))
             .alias("pairs"))
        .select(
            label_col,
            F.transform("pairs", lambda s: s["avg_val"]).alias("centroid"),
        )
    )


def _spread(df: DataFrame, *key_cols: str) -> DataFrame:
    """Spread to the session's default parallelism IFF the input has
    fewer partitions. A small-SF table is a single parquet file →
    one scan partition → every narrow computation stacked on it (the
    k-way score/argmin crossJoin, per-vector norms) serializes on ONE
    task (measured: 7.4s for 88k interpreted-HOF cosines single-task
    vs <1s spread). At scale the source already has ≥cores partitions
    and this is a no-op — no shuffle is added.

    Pass ``key_cols`` (a high-cardinality key like doc_id) to spread
    by hash partitioning instead of round-robin: every keyless
    ``repartition(n)`` first pays a full local sort of its input rows
    (spark.sql.execution.sortBeforeRepartition, on by default so
    retried tasks reproduce their row-to-partition assignment —
    guide §2.5); hash partitioning is deterministic per row, so it
    skips that sort — which matters when the rows carry document
    text or embedding payloads."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        if key_cols:
            return df.repartition(target, *[F.col(c) for c in key_cols])
        return df.repartition(target)
    return df


def ivf_assign(embeddings: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               with_score: bool = False) -> DataFrame:
    """Assign every vector to its nearest centroid ('inverted list'):
    broadcast the codebook (tiny by construction), score each vector
    against every centroid, keep the argmax — ties broken by lowest
    centroid label so the partitioning is deterministic. The argmax
    is a ``min_by`` hash aggregate (partial+final, map-side combine
    shrinks the shuffle to one row per vector) — no sort, unlike a
    row_number window. ``with_score=True`` keeps the winning cosine
    (``ccos``) for radius computations."""
    scored = (
        _spread(embeddings).crossJoin(F.broadcast(
            centroids.select(F.col("label").alias("list_id"), "centroid")))
        .withColumn("ccos", cosine_similarity(vec_col, "centroid"))
    )
    # min_by over (-ccos, list_id): highest cosine wins, ties broken
    # by lowest centroid label — same order the old window used.
    best = scored.groupBy(id_col).agg(
        F.min_by(
            F.struct(F.col(vec_col).alias("vec"),
                     F.col("list_id").alias("list_id"),
                     F.col("ccos").alias("ccos")),
            F.struct((-F.col("ccos")).alias("k1"),
                     F.col("list_id").alias("k2")),
        ).alias("best"))
    out = best.select(
        id_col,
        F.col("best.vec").alias(vec_col),
        F.col("best.list_id").alias("list_id"),
        F.col("best.ccos").alias("ccos"),
    )
    return out if with_score else out.drop("ccos")


def _unit_rows(m):
    """Rows of the matrix ``m`` scaled to unit L2 norm; zero-norm rows
    stay zero."""
    import numpy as np

    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    return np.divide(m, nrm, out=np.zeros_like(m), where=nrm > 0)


def _unit_codebook(rows):
    """(labels, unit centroid matrix) from (label, centroid) pairs,
    sorted by label — the row order ``_nearest_centroid``'s tie rule
    relies on."""
    import numpy as np

    rows = sorted((int(lbl), [float(x) for x in v]) for lbl, v in rows)
    labels = np.array([lbl for lbl, _ in rows], dtype=np.int64)
    if not rows:  # an empty table trains an empty codebook
        return labels, np.zeros((0, 0))
    return labels, _unit_rows(np.array([v for _, v in rows],
                                       dtype=np.float64))


def _vectors(col):
    """An Arrow batch's array column as an n×dim float64 matrix."""
    import numpy as np

    return np.array([np.asarray(v, dtype=np.float64) for v in col])


def _nearest_centroid(x, cn):
    """The assignment kernel: for each row of ``x``, the row index of
    its max-cosine centroid in the unit codebook ``cn`` and that
    cosine. ``np.argmax`` takes the FIRST maximum and ``cn`` is sorted
    by label, so ties break to the lowest label; a zero-norm vector
    scores 0.0 against every centroid."""
    import numpy as np

    scores = _unit_rows(x) @ cn.T
    best = np.argmax(scores, axis=1)
    return best, scores[np.arange(len(best)), best]


def ivf_assign_gemm(embeddings: DataFrame, centroids: DataFrame,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    with_score: bool = False) -> DataFrame:
    """``ivf_assign`` with the scoring as one BLAS matmul per Arrow
    batch instead of n×k interpreted higher-order folds — the
    assignment engine for large k×n (measured at 100k vectors ×
    k=316: the HOF crossJoin+min_by path spends ~90 s on 31.6M
    interpreted cosines; this runs the identical arithmetic at
    memory bandwidth). Same deterministic tie rule: ``np.argmax``
    takes the FIRST maximum and the codebook matrix is sorted by
    label, so ties break to the lowest label exactly like min_by's
    (-ccos, list_id) ordering.

    Used where assignment is an internal blocking/training step
    (k-means fit, the blocked pair joins, the trained-IVF probe) —
    all of which are either provably assignment-independent (the
    triangle-inequality blocking is lossless whatever the
    assignment) or declared rows-only. ``knn_ivf`` keeps the
    Column-expression path: its SQL oracle mirrors the assignment
    arithmetic fold-for-fold, so its engine must not change.

    Zero-norm vectors score 0.0 against every centroid (→ lowest
    label, ccos 0.0); they can never appear in a result pair anyway
    (their pair cosine is NULL/masked in every consumer)."""
    labels, cn = _unit_codebook(
        (r["label"], r["centroid"]) for r in centroids.collect())

    dtypes = dict(embeddings.dtypes)
    out_schema = (f"{id_col} {dtypes[id_col]}, "
                  f"{vec_col} {dtypes[vec_col]}, "
                  "list_id int, ccos double")

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            best, ccos = _nearest_centroid(_vectors(pdf[vec_col]), cn)
            yield pd.DataFrame({
                id_col: pdf[id_col].values,
                vec_col: pdf[vec_col].values,
                "list_id": labels[best].astype("int32"),
                "ccos": ccos,
            })

    out = _spread(embeddings.select(id_col, vec_col)).mapInPandas(
        assign, schema=out_schema)
    return out if with_score else out.drop("ccos")


def knn_ivf(embeddings: DataFrame, query_vec_id: int, k: int,
            id_col: str = "vec_id",
            vec_col: str = "embedding",
            cache_key: Hashable = None) -> DataFrame:
    """IVF-style approximate top-k: vectors are partitioned into
    inverted lists by nearest codebook centroid (here the label
    centroids — a learned k-means codebook drops in identically);
    the query probes only its own list (nprobe=1) and re-ranks by
    exact cosine inside it.

    At scale this is the standard ANN partition-pruning shape: the
    corpus is written partitioned by list_id, a query reads 1/n_lists
    of the data, and the codebook broadcast is O(n_lists x dim).
    ``cache_key`` slots the assigned relation (the inverted index —
    built once per source snapshot, probed per query); repeated
    queries skip the assignment scan entirely."""
    assigned = keyed_persist(
        "ivf_assigned", None if cache_key is None else cache_key,
        lambda: ivf_assign(embeddings, label_centroids(embeddings),
                           id_col, vec_col))
    q = assigned.filter(F.col(id_col) == query_vec_id).select(
        F.col("list_id").alias("__qlist"), F.col(vec_col).alias("__qvec"))
    return (
        assigned.join(F.broadcast(q), F.col("list_id") == F.col("__qlist"))
        .filter(F.col(id_col) != query_vec_id)
        .select(id_col,
                cosine_similarity(vec_col, "__qvec").alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def knn_ivf_probe(embeddings: DataFrame, centroids: DataFrame,
                  query_vec_id: int, k: int, nprobe: int = 8,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k with MULTI-PROBE over an arbitrary
    (typically k-means-trained) codebook: the query scores the tiny
    codebook, its ``nprobe`` nearest inverted lists are searched with
    exact cosine, the rest of the corpus is never touched. This is
    how a trained codebook feeds the ANN path (``knn_ivf`` keeps the
    label-centroid codebook + nprobe=1 for its SQL oracle): recall
    rises with nprobe while scan cost stays nprobe/K of the corpus —
    the standard IVF recall/latency dial. All joins are broadcasts of
    k-row/1-row relations; the corpus-sized relation is scanned once
    for assignment and once (partition-pruned at scale) for the
    probe."""
    assigned = ivf_assign_gemm(embeddings, centroids, id_col, vec_col)
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qvec"))
    probe_lists = (
        centroids.crossJoin(F.broadcast(q))
        .select(F.col("label").alias("__plist"),
                cosine_similarity("centroid", "__qvec").alias("__pc"))
        .orderBy(F.desc("__pc"), F.asc("__plist"))
        .limit(nprobe)
        .select("__plist")
    )
    return (
        assigned.join(F.broadcast(probe_lists),
                      F.col("list_id") == F.col("__plist"))
        .filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select(id_col,
                cosine_similarity(vec_col, "__qvec").alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _codebook_key(centroids: DataFrame) -> int:
    """Identity hash of a codebook's rows, folded into every slot
    key that caches a centroid ASSIGNMENT (ADVICE r4: a
    caller-supplied cache_key identifies the embeddings table only —
    a second call with the same table but a different codebook must
    not reuse the stale assignment). Codebooks are k rows by
    construction, so the collect is bounded. A driver-built codebook
    (``kmeans_codebook``, a trained-codebook artifact) is a
    LocalRelation and collects with no Spark job; a computed one
    (``label_centroids``) runs its aggregate per call, so callers
    that already hold a durable identity for it (the source
    fingerprint behind label centroids) should pass it as
    ``codebook_key`` and skip this probe on the warm path."""
    rows = sorted((int(r[0]), tuple(float(x) for x in r[1]))
                  for r in centroids.select("label", "centroid").collect())
    return hash(tuple(rows))


def _assignment_stats(slot: str, full_key, assigned: DataFrame,
                      vec_col: str) -> tuple[int, int]:
    """(n, dim) of the persisted assignment in ``slot``, memoized in
    slot ``{slot}_stats``: one aggregate job on first sight of the
    key, so the warm path makes the broadcast-vs-shuffle attach
    decision without running a job."""
    def measure() -> tuple[int, int]:
        row = assigned.agg(
            F.count(F.lit(1)).alias("n"),
            F.first(F.size(vec_col)).alias("d")).first()
        return int(row["n"]), int(row["d"] or 0)

    return keyed_value(f"{slot}_stats", full_key, measure)


# Broadcasting the packed block relation ships the ENTIRE corpus
# (n×dim doubles) to every executor and materializes it on the
# driver — fine at test scale, an OOM at 100 TB (ADVICE r4). Above
# this estimated size the block attach switches to a shuffle hash
# join on cluster id: 2 corpus-sized shuffles instead of
# n_executors corpus-sized copies.
_BLOCK_BCAST_MAX_BYTES = 64 << 20


def _attach_blocks(cand: DataFrame, blocks: DataFrame,
                   est_bytes: int) -> DataFrame:
    """Join candidate cluster pairs (c1, c2) to the packed block
    relation twice — by broadcast when the whole corpus fits the
    budget, by SHUFFLE_HASH on the cluster id otherwise (the key has
    k distinct values; sorting packed block rows buys nothing)."""
    b1 = blocks.select(F.col("list_id").alias("c1"),
                       F.col("blk").alias("blk1"))
    b2 = blocks.select(F.col("list_id").alias("c2"),
                       F.col("blk").alias("blk2"))
    if est_bytes <= _BLOCK_BCAST_MAX_BYTES:
        b1, b2 = F.broadcast(b1), F.broadcast(b2)
    else:
        b1, b2 = b1.hint("SHUFFLE_HASH"), b2.hint("SHUFFLE_HASH")
    return (
        cand.join(b1, "c1")
        .join(b2, "c2")
        # one matmul per candidate cluster pair; spread the k² rows
        .repartition(F.col("c1"), F.col("c2"))
    )


# Guard against float round-off when comparing angles computed via
# acos of a double-accumulated cosine (derivative of acos blows up
# near ±1; 1e-6 rad is orders of magnitude above the observed error).
_ANGLE_EPS = 1e-6


def _angle(cos_col) -> "F.Column":
    """Angular distance in radians from a cosine, clipped into the
    acos domain so accumulated float error can't produce NaN."""
    return F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), cos_col)))


def _candidate_pairs_local(assigned: DataFrame, centroids: DataFrame,
                           min_cosine: float, slot: str,
                           full_key) -> DataFrame:
    """``candidate_cluster_pairs`` computed driver-side and returned
    as a LocalRelation — identical pair set (same angle formula,
    same NULL conservatism, same ``_ANGLE_EPS`` slack; float64 in
    numpy vs the JVM differs ~1 ulp, orders of magnitude inside the
    epsilon), so the lossless-pruning guarantee is untouched: every
    surviving pair is exactly re-checked downstream.

    As Catalyst operators the K-row radii aggregate and the K×K
    screen cost an Exchange, two broadcasts and a crossJoin per
    execution; here they are one radii job on first sight of the
    assignment's key, memoized in slot ``{slot}_cand`` (the codebook
    collect is free when it is a LocalRelation). K ≈ √n by the
    codebook sizing, so the pair list stays small."""
    import numpy as np

    def screen() -> list[tuple[int, int]]:
        radii = {int(r["list_id"]): float(r["radius"])
                 for r in assigned.groupBy("list_id").agg(
                     F.max(F.coalesce(_angle(F.col("ccos")),
                                      F.lit(math.pi)))
                     .alias("radius")).collect()}
        cents = sorted((int(r["label"]),
                        np.asarray(r["centroid"], dtype=np.float64))
                       for r in centroids.collect()
                       if int(r["label"]) in radii)
        if not cents:  # no vectors were assigned
            return []
        labels = np.array([lbl for lbl, _ in cents], dtype=np.int64)
        cmat = np.array([v for _, v in cents], dtype=np.float64)
        nrm = np.linalg.norm(cmat, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (cmat @ cmat.T) / (nrm * nrm.T)
        # zero-norm centroid → NULL cosine in the Column version →
        # coalesce(angle, 0.0) → pair kept; mirror with angle 0
        ang = np.where(np.isfinite(cos),
                       np.arccos(np.clip(cos, -1.0, 1.0)), 0.0)
        r = np.array([radii[int(lbl)] for lbl in labels])
        theta_t = math.acos(min_cosine)
        keep = ang <= theta_t + r[:, None] + r[None, :] + _ANGLE_EPS
        ia, ib = np.nonzero(keep)
        return [(int(labels[i]), int(labels[j]))
                for i, j in zip(ia, ib)]

    pairs = keyed_value(
        f"{slot}_cand",
        None if full_key is None
        else (full_key, round(float(min_cosine), 12)),
        screen)
    return local_frame(assigned.sparkSession, pairs, "c1 int, c2 int")


def candidate_cluster_pairs(assigned: DataFrame, centroids: DataFrame,
                            min_cosine: float) -> DataFrame:
    """Ordered cluster pairs (c1, c2) — both directions plus
    self-pairs — that the angular triangle inequality cannot prove
    empty of cos > min_cosine vector pairs:
    angle(cent1, cent2) ≤ θ_t + r1 + r2. Computed entirely on the
    tiny per-cluster aggregate (K rows), so the K×K cross join is
    free; every unordered vector pair (a < b) then matches exactly
    one ordered (cluster_a, cluster_b) entry."""
    theta_t = F.lit(float(math.acos(min_cosine)))
    # NULL ccos (zero-norm vector, try_divide) → assume worst-case
    # radius π; NULL centroid angle → assume 0. Both degrade to
    # "keep the cluster pair", never to silently dropping one.
    radii = assigned.groupBy("list_id").agg(
        F.max(F.coalesce(_angle(F.col("ccos")), F.lit(math.pi)))
        .alias("radius"))
    cents = centroids.select(F.col("label").alias("list_id"), "centroid")
    meta = radii.join(cents, "list_id")
    left = meta.select(F.col("list_id").alias("c1"),
                       F.col("radius").alias("r1"),
                       F.col("centroid").alias("cent1"))
    right = meta.select(F.col("list_id").alias("c2"),
                        F.col("radius").alias("r2"),
                        F.col("centroid").alias("cent2"))
    return (
        left.crossJoin(F.broadcast(right))
        .filter(F.coalesce(_angle(cosine_similarity("cent1", "cent2")),
                           F.lit(0.0))
                <= theta_t + F.col("r1") + F.col("r2") + F.lit(_ANGLE_EPS))
        .select("c1", "c2")
    )


def cosine_pairs_blocked(embeddings: DataFrame, min_cosine: float,
                         centroids: DataFrame,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         salt_buckets: int = 32,
                         cache_key: Hashable = None,
                         codebook_key: Hashable = None,
                         dim: int | None = None) -> DataFrame:
    """EXACT all-pairs cosine self-join (cos > min_cosine) with
    metric blocking — the scale-path replacement for the naive
    ``a.join(b, id_a < id_b)`` broadcast-NLJ:

    1. assign every vector to its nearest codebook centroid
       (broadcast codebook, one scan — ``ivf_assign``);
    2. per-cluster angular radius r_c = max angle(v, centroid);
    3. candidate cluster pairs from the triangle inequality on
       angular distance (a metric): angle(a,b) ≥ angle(c_a,c_b)
       − r_a − r_b, so a pair with angle(a,b) ≤ θ_t can only live in
       cluster pairs with angle(c_a,c_b) ≤ θ_t + r_a + r_b. Computed
       on the tiny centroid aggregate, broadcast;
    4. vectors EQUI-join the candidate cluster-pair table on cluster
       id (hash join, never a cartesian NLJ), then the exact cosine
       filter re-checks every surviving pair.

    Exact at every scale — pruning only ever drops cluster pairs the
    triangle inequality proves empty. How MUCH it prunes depends on
    cluster tightness: with a real k-means codebook (radii ≪ θ_t)
    candidate generation is near-linear; on pathologically uniform
    data it degrades to reviewing all K² cluster pairs but keeps the
    hash-join shape (bounded skew: rows per join key = cluster size).
    At 100 TB: K grows with corpus size (√n rule of thumb), the
    assigned relation is written partitioned by list_id, and the
    pair join is cluster-local.

    The expansion join is SALTED: its key (cluster id) has only K
    distinct values and the per-pair cosine dominates the work, so an
    unsalted join funnels whole clusters into single tasks (with a
    small codebook that is near-serial — measured 40s → 3s at sf0.1
    from this change alone). The left side takes a deterministic
    salt = hash(id) mod S; the right side replicates S ways on
    (cluster, salt) — every pair still matches exactly once, work
    spreads over K × S even tasks, replication cost is O(S·n) with S
    constant.

    Per-vector L2 norms are computed ONCE into the cached assignment
    (``nrm``) — the pair cosine is then dot/(na·nb). Same doubles as
    ``cosine_similarity`` per pair (identical expressions on
    identical data), but the interpreted-HOF fold count per pair
    drops 3× (one dot instead of dot + two norms over the 64-dim
    arrays) — measured 3.3s → ~1.3s warm at sf0.1.

    ``dim`` (r15): the caller-known vector dimensionality; when set,
    the per-pair dot is the statically UNROLLED codegen'd sum for
    rows of exactly that size (functions/vectors.py dot(unroll_dim)
    — bit-identical association, interpreted-fold fallback for any
    other size). The per-pair HOF fold was the engine's remaining
    interpreted hot loop (~4M folds per execution at sf0.1)."""
    cb_fp = codebook_key if codebook_key is not None \
        else _codebook_key(centroids)
    assigned = keyed_persist(
        "blocked_assigned",
        None if cache_key is None else (cache_key, cb_fp),
        lambda: ivf_assign_gemm(embeddings, centroids, id_col, vec_col,
                                with_score=True)
        .withColumn("nrm", l2_norm(vec_col)))
    full_key = None if cache_key is None else (cache_key, cb_fp)
    cand = (_candidate_pairs_local(assigned, centroids, min_cosine,
                                   "blocked_assigned", full_key)
            if full_key is not None
            else candidate_cluster_pairs(assigned, centroids,
                                         min_cosine))

    a = assigned.select(F.col(id_col).alias("vec_a"),
                        F.col(vec_col).alias("ea"),
                        F.col("list_id").alias("ca"),
                        F.col("nrm").alias("na"))
    b = assigned.select(F.col(id_col).alias("vec_b"),
                        F.col(vec_col).alias("eb"),
                        F.col("list_id").alias("cb"),
                        F.col("nrm").alias("nb"))
    a_salted = (
        a.join(F.broadcast(cand), F.col("ca") == F.col("c1"))
        .withColumn("salt",
                    F.pmod(F.xxhash64("vec_a"), F.lit(salt_buckets)))
    )
    # SHUFFLE_HASH: Catalyst's default SortMergeJoin would sort both
    # sides — 64-dim array rows on a low-cardinality (cluster, salt)
    # key, where the sort buys nothing and costs most of the join
    # (measured 7.9s SMJ vs 3.4s SHJ warm at sf0.1). A hash join
    # builds per-partition maps instead; correctness identical.
    b_salted = b.withColumn(
        "salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))
                  .cast("array<bigint>"))).hint("SHUFFLE_HASH")
    return (
        a_salted.join(b_salted, (F.col("cb") == F.col("c2"))
                      & (a_salted["salt"] == b_salted["salt"]))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine",
                    F.try_divide(dot("ea", "eb", unroll_dim=dim),
                                 F.col("na") * F.col("nb")))
        .filter(F.col("cosine") > min_cosine)
        .select("vec_a", "vec_b", "cosine")
    )


def knn_batch_topk(embeddings: DataFrame, k: int, centroids: DataFrame,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   cache_key: Hashable = None,
                   codebook_key: Hashable = None) -> DataFrame:
    """EXACT k nearest neighbors for EVERY vector (batch similarity
    search), as block-pair matmuls with per-block partial top-k:

    1. pack each cluster into one block row (bounded by the k ≈ √n
       codebook sizing);
    2. every ordered cluster pair (no threshold — θ_t = π, so
       results are exact by construction) joins the two blocks and
       one BLAS matmul scores all cross-pairs;
    3. each task emits only its block-pair's per-vector top-k — the
       global-window relation is n·k·B rows, not the n² raw pairs
       (at sf0.1: 264k vs 4M windowed rows);
    4. the per-vector window merges partial top-ks into the final
       exact top-k (correct because the global top-k is a subset of
       the union of per-block top-ks).

    Worst-case FLOPs are inherently quadratic — that is what exact
    batch kNN costs — but they run at BLAS speed and the shuffled
    data volume is linear in n. Tie rule everywhere: higher cosine
    first, then lowest neighbor id (block columns are sorted by id
    and the argsort is stable, matching the window's ordering). At
    100 TB the ANN paths (knn_ivf_probe per query, cosine_pairs_lsh
    for pair discovery) replace this exact pass."""
    import numpy as np
    import pandas as pd

    cb_fp = codebook_key if codebook_key is not None \
        else _codebook_key(centroids)
    full_key = None if cache_key is None else (cache_key, cb_fp)
    assigned = keyed_persist(
        "batchtopk_assigned", full_key,
        lambda: ivf_assign_gemm(embeddings, centroids, id_col, vec_col,
                                with_score=True))
    cand = (_candidate_pairs_local(assigned, centroids, -1.0,
                                   "batchtopk_assigned", full_key)
            if full_key is not None
            else candidate_cluster_pairs(assigned, centroids, -1.0))

    blocks = assigned.groupBy("list_id").agg(
        F.collect_list(F.struct(F.col(id_col).alias("id"),
                                F.col(vec_col).alias("v"))).alias("blk"))
    n, dim = _assignment_stats("batchtopk_assigned", full_key,
                               assigned, vec_col)
    paired = _attach_blocks(cand, blocks, est_bytes=n * dim * 8)

    id_type = dict(embeddings.dtypes)[id_col]
    kk = int(k)

    def topk_blocks(batches):
        for pdf in batches:
            out_v, out_n, out_c = [], [], []
            for blk1, blk2 in zip(pdf["blk1"], pdf["blk2"]):
                ids1 = np.array([r["id"] for r in blk1])
                m1 = np.array([r["v"] for r in blk1], dtype=np.float64)
                # sort the neighbor side by id so stable argsort
                # breaks cosine ties toward the lowest neighbor id
                ids2 = np.array([r["id"] for r in blk2])
                order2 = np.argsort(ids2)
                ids2 = ids2[order2]
                m2 = np.array([r["v"] for r in blk2],
                              dtype=np.float64)[order2]
                n1 = np.linalg.norm(m1, axis=1, keepdims=True)
                n2 = np.linalg.norm(m2, axis=1, keepdims=True)
                u1 = np.divide(m1, n1, out=np.zeros_like(m1),
                               where=n1 > 0)
                u2 = np.divide(m2, n2, out=np.zeros_like(m2),
                               where=n2 > 0)
                cos = u1 @ u2.T
                cos[ids1[:, None] == ids2[None, :]] = -np.inf  # self
                take = min(kk, cos.shape[1])
                top = np.argsort(-cos, axis=1, kind="stable")[:, :take]
                rows = np.repeat(np.arange(len(ids1)), take)
                cols = top.ravel()
                keep = np.isfinite(cos[rows, cols])
                out_v.append(ids1[rows][keep])
                out_n.append(ids2[cols][keep])
                out_c.append(cos[rows, cols][keep])
            if out_v:
                yield pd.DataFrame({
                    "vec_id": np.concatenate(out_v),
                    "neighbor": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                })

    partial = paired.mapInPandas(
        topk_blocks,
        schema=f"vec_id {id_type}, neighbor {id_type}, cosine double")

    from pyspark.sql import Window
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("neighbor"))
    return (
        partial.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("vec_id", "neighbor", "cosine")
    )


def cosine_pairs_blocked_gemm(embeddings: DataFrame, min_cosine: float,
                              centroids: DataFrame,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              cache_key: Hashable = None,
                              codebook_key: Hashable = None) -> DataFrame:
    """Same EXACT semantics and blocking as ``cosine_pairs_blocked``
    — nearest-centroid assignment, triangle-inequality cluster-pair
    pruning — but the per-pair cosine work runs as ONE BLAS matmul
    per candidate cluster pair inside an Arrow-batched
    ``mapInPandas`` instead of millions of interpreted higher-order
    folds.

    Why this exists next to the Column-expression variant: "UDFs are
    the slow path" holds for row-at-a-time logic, but DENSE VECTOR
    MATH is the documented exception — zip_with/aggregate evaluates
    interpreted lambdas per element (~4M pairs × 64 dims measured
    ~3.5s at sf0.1), while numpy hands the same arithmetic to BLAS.
    The Spark-side plan is unchanged in shape: each cluster packs
    into one block row (groupBy + collect_list — block size is
    cluster_size × dim, bounded by k ≈ √n sizing), candidate pairs
    equi-join the block relation twice (k ROWS but n×dim BYTES — the
    whole corpus packed; ``_attach_blocks`` broadcasts only below a
    size budget and shuffle-hash-joins on the cluster id past it),
    and the matmul emits only pairs above the threshold. Executor
    memory per task is two blocks, not a partition of pairs; skew
    bound is the largest cluster², same as the equi-join variant.

    Normalization divides by per-vector norms computed in numpy;
    float64 accumulation differences vs the fold variant are ~1e-15
    relative — both engines' 6-dp rounding absorbs it (same argument
    that lets DuckDB's own summation order hash-match)."""
    import pandas as pd

    cb_fp = codebook_key if codebook_key is not None \
        else _codebook_key(centroids)
    full_key = None if cache_key is None else (cache_key, cb_fp)
    assigned = keyed_persist(
        "blocked_gemm_assigned", full_key,
        lambda: ivf_assign_gemm(embeddings, centroids, id_col, vec_col,
                                with_score=True))
    cand = (_candidate_pairs_local(assigned, centroids, min_cosine,
                                   "blocked_gemm_assigned", full_key)
            if full_key is not None
            else candidate_cluster_pairs(assigned, centroids,
                                         min_cosine))

    blocks = assigned.groupBy("list_id").agg(
        F.collect_list(F.struct(F.col(id_col).alias("id"),
                                F.col(vec_col).alias("v"))).alias("blk"))
    n, dim = _assignment_stats("blocked_gemm_assigned", full_key,
                               assigned, vec_col)
    paired = _attach_blocks(cand, blocks, est_bytes=n * dim * 8)

    thr = float(min_cosine)

    def gemm(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for blk1, blk2 in zip(pdf["blk1"], pdf["blk2"]):
                ids1 = np.array([r["id"] for r in blk1])
                m1 = np.array([r["v"] for r in blk1], dtype=np.float64)
                ids2 = np.array([r["id"] for r in blk2])
                m2 = np.array([r["v"] for r in blk2], dtype=np.float64)
                n1 = np.linalg.norm(m1, axis=1)
                n2 = np.linalg.norm(m2, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (m1 @ m2.T) / np.outer(n1, n2)
                # zero-norm vectors divide to ±inf/nan — the fold
                # variant's try_divide yields NULL there and drops
                # the pair; mask ALL non-finite the same way
                ia, ib = np.nonzero(
                    np.where(np.isfinite(cos), cos, -2.0) > thr)
                keep = ids1[ia] < ids2[ib]  # unordered pair once
                out_a.append(ids1[ia][keep])
                out_b.append(ids2[ib][keep])
                out_c.append(cos[ia, ib][keep])
            if out_a:
                yield pd.DataFrame({
                    "vec_a": np.concatenate(out_a),
                    "vec_b": np.concatenate(out_b),
                    "cosine": np.concatenate(out_c),
                })

    return paired.mapInPandas(
        gemm, schema=f"vec_a {dict(embeddings.dtypes)[id_col]}, "
                     f"vec_b {dict(embeddings.dtypes)[id_col]}, "
                     "cosine double")


def jl_project(embeddings: DataFrame, dim: int, out_dim: int,
               seed: int = 42, vec_col: str = "embedding",
               scale: float | None = None) -> DataFrame:
    """Johnson–Lindenstrauss random projection: dim → out_dim with a
    seeded ±1 (Rademacher) matrix scaled by 1/√out_dim — the standard
    dimensionality-reduction step before ANN indexing (Achlioptas
    2003: ±1 projections carry the JL distance-preservation
    guarantee; distortion bound pinned in tests). The matrix is the
    same md5-derived family as the sign-LSH planes, so a SQL oracle
    re-derives the projection exactly; computation is out_dim
    JVM-side dot products against literal rows — a narrow map, zero
    shuffle at any scale (the 100-TB shape: projecting n×dim to
    n×out_dim cuts every downstream ANN scan by dim/out_dim)."""
    planes = hyperplanes_rademacher(dim, out_dim, seed)
    s = scale if scale is not None else out_dim ** 0.5
    proj = F.array(*[
        (dot(F.col(vec_col), F.array(*[F.lit(x) for x in p]))
         / F.lit(float(s)))
        for p in planes
    ])
    return embeddings.withColumn("projected", proj)


def lsh_bucket_tables(embeddings: DataFrame, dim: int,
                      n_planes: int = 4, n_tables: int = 16,
                      seed: int = 42,
                      vec_col: str = "embedding",
                      plane_family: str = "gauss") -> DataFrame:
    """Multi-table sign-LSH: one row per (vector, table) with that
    table's sign-pattern bucket. L independent tables of b planes
    each — candidate recall 1−(1−p^b)^L for per-plane collision
    p = 1 − θ/π (Charikar, STOC'02). Output is the exploded form so
    candidate generation is a single equi-join on (table, bucket)."""
    planes = _planes(dim, n_planes * n_tables, seed, plane_family)
    buckets = []
    for t in range(n_tables):
        bucket = sum(
            F.when(dot(F.col(vec_col),
                       F.array(*[F.lit(x) for x in p])) > 0,
                   F.lit(2 ** i).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
            for i, p in enumerate(
                planes[t * n_planes:(t + 1) * n_planes])
        )
        buckets.append(bucket)
    return embeddings.select(
        "*", F.posexplode(F.array(*buckets)).alias("table_id", "bucket"))


def cosine_pairs_lsh(embeddings: DataFrame, min_cosine: float,
                     dim: int, n_planes: int = 4, n_tables: int = 16,
                     seed: int = 42, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     plane_family: str = "gauss",
                     engine: str = "gemm") -> DataFrame:
    """APPROXIMATE all-pairs cosine self-join: multi-table sign-LSH
    candidates (equi-join on (table, bucket)) → distinct pairs →
    exact cosine re-check. No false positives (exact filter), false
    negatives bounded by the LSH recall curve — the right trade for
    UNCLUSTERED corpora where no exact blocking can prune; recall vs
    the exact oracle is pinned in tests/test_dedup_knn.py.

    Scale shape: O(L·n) exploded rows hash-partitioned by bucket —
    linear preprocessing, bucket-local pair generation, never an
    all-pairs join.

    ``engine='gemm'`` (default): the re-check runs as ONE BLAS gram
    matrix per (table, bucket) group — vectors ship ONCE per table
    occupancy (L·n·dim bytes through the groupBy), never attached to
    pair rows (pairs·dim — the fold variant moved ~1.5M candidate
    pairs × 2×64 doubles through two joins at sf0.1, ~10s of its
    15.7s wall), and the cross-table duplicate collapse (max cosine
    per pair — the same pair's gram matrices differ in SHAPE across
    tables, so dgemm summation order, and thus the last ulp, may
    differ; .distinct() would need bit-identical floats) runs on
    the few pairs that SURVIVE the threshold, not per candidate. Same
    dense-vector-math exception to "UDFs are the slow path" as
    ``cosine_pairs_blocked_gemm``; float64 accumulation-order noise
    vs the fold is ~1e-15 relative, absorbed by 6-dp rounding (same
    argument + hash-verification as the blocked gemm). Memory per
    task is one bucket's block; a degenerate hot bucket costs that
    bucket², exactly as the equi-join variant's hot bucket would.
    ``'fold'`` keeps the pure Column-expression plan."""
    tabs = lsh_bucket_tables(embeddings, dim, n_planes, n_tables,
                             seed, vec_col, plane_family)
    if engine == "fold":
        a = tabs.select(F.col(id_col).alias("vec_a"),
                        "table_id", "bucket")
        b = tabs.select(F.col(id_col).alias("vec_b"),
                        "table_id", "bucket")
        cand = (
            a.join(b, ["table_id", "bucket"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
            .distinct()  # a pair may collide in several tables
        )
        ea = embeddings.select(F.col(id_col).alias("vec_a"),
                               F.col(vec_col).alias("ea"))
        eb = embeddings.select(F.col(id_col).alias("vec_b"),
                               F.col(vec_col).alias("eb"))
        return (
            cand.join(ea, "vec_a").join(eb, "vec_b")
            .withColumn("cosine", cosine_similarity("ea", "eb"))
            .filter(F.col("cosine") > min_cosine)
            .select("vec_a", "vec_b", "cosine")
        )

    import pandas as pd

    thr = float(min_cosine)
    id_type = dict(embeddings.dtypes)[id_col]
    blocks = (
        tabs.groupBy("table_id", "bucket")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("id"),
                                     F.col(vec_col).alias("v")))
             .alias("blk"))
        .filter(F.size("blk") >= 2)
    )

    def bucket_gemm(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for blk in pdf["blk"]:
                ids = np.array([r["id"] for r in blk])
                m = np.array([r["v"] for r in blk], dtype=np.float64)
                nrm = np.linalg.norm(m, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (m @ m.T) / np.outer(nrm, nrm)
                # zero-norm vectors: fold's try_divide -> NULL ->
                # dropped; mask non-finite identically
                ia, ib = np.nonzero(
                    np.where(np.isfinite(cos), cos, -2.0) > thr)
                keep = ids[ia] < ids[ib]  # each unordered pair once
                out_a.append(ids[ia][keep])
                out_b.append(ids[ib][keep])
                out_c.append(cos[ia, ib][keep])
            if out_a:
                yield pd.DataFrame({
                    "vec_a": np.concatenate(out_a),
                    "vec_b": np.concatenate(out_b),
                    "cosine": np.concatenate(out_c),
                })

    # A pair can surface from several tables whose buckets hold
    # different vector subsets, so the BLAS gram matrices differ in
    # shape — dgemm summation order (and thus the cosine's last ulp)
    # can differ per occurrence. Collapse duplicates with max-per-pair
    # rather than .distinct(), which would rely on bit-identical
    # floats across differently-shaped products (same ulp-collapse as
    # _docsim_ann_bucket_gemm).
    return (blocks.mapInPandas(
        bucket_gemm, schema=f"vec_a {id_type}, vec_b {id_type}, "
                            "cosine double")
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cosine").alias("cosine")))


# cosine_range_search broadcasts the query block while it holds at
# most this many queries, and switches to sign-LSH candidates past it.
RANGE_BROADCAST_Q_MAX = 100_000


def cosine_range_search(embeddings: DataFrame, queries: DataFrame,
                        min_cosine: float,
                        dim: int = 64, n_planes: int = 4,
                        n_tables: int = 24, seed: int = 42,
                        id_col: str = "vec_id",
                        q_id_col: str = "query_id",
                        vec_col: str = "embedding",
                        q_vec_col: str = "qv",
                        plane_family: str = "rademacher",
                        cache_key: Hashable = None) -> DataFrame:
    """Fixed-radius similarity search — every corpus vector with
    cosine ≥ ``min_cosine`` to each query — with a measured-count
    gate on the query-block broadcast.

    Under ``RANGE_BROADCAST_Q_MAX`` queries the query block
    broadcasts and the search is EXACT: one corpus scan, the cosine
    in whole-stage codegen, no shuffle (the output is a filter, not
    an agg). Past the bound — a query set that scales WITH the
    corpus, where the broadcast itself becomes the bottleneck at
    100× — the plan switches to multi-table sign-LSH candidates:
    both sides bucketed by the SAME md5-derived hyperplanes (so the
    candidate equi-join on (table_id, bucket) is bucket-local, never
    all-pairs), distinct candidate pairs, exact cosine re-check. The
    LSH path has zero false positives (exact filter) and recall
    bounded by the Charikar curve 1−(1−p^b)^L — declared
    APPROXIMATE, the same contract as cosine_pairs_lsh /
    dedup_embedding_cosine_lsh.

    The query count is a ``cache.gate`` probe memoized on
    ``cache_key``: callers whose query relation is a lazy
    corpus-derived filter pass the source snapshot's key, so plan
    builds after the first run no probe job. ``cache_key=None``
    probes on every call.
    """
    ex = embeddings.select(F.col(id_col).alias("__cid"),
                           F.col(vec_col).alias("__cv"))
    if gate("range_search_queries", cache_key, queries,
            RANGE_BROADCAST_Q_MAX):
        return (ex.crossJoin(F.broadcast(queries))
                .filter(F.col("__cid") != F.col(q_id_col))
                .withColumn("cosine",
                            cosine_similarity("__cv", q_vec_col))
                .filter(F.col("cosine") >= F.lit(min_cosine))
                .select(q_id_col, F.col("__cid").alias(id_col),
                        "cosine"))
    ctab = lsh_bucket_tables(ex, dim, n_planes, n_tables, seed,
                             "__cv", plane_family) \
        .select("__cid", "table_id", "bucket")
    qtab = lsh_bucket_tables(
        queries.select(F.col(q_id_col).alias("__qid"),
                       F.col(q_vec_col).alias("__qv")),
        dim, n_planes, n_tables, seed, "__qv", plane_family) \
        .select("__qid", "table_id", "bucket")
    cand = (ctab.join(qtab, ["table_id", "bucket"])
            .filter(F.col("__cid") != F.col("__qid"))
            .select("__cid", "__qid")
            .distinct())  # a pair may collide in several tables
    qv = queries.select(F.col(q_id_col).alias("__qid"),
                        F.col(q_vec_col).alias("__qv"))
    return (cand.join(ex, "__cid").join(qv, "__qid")
            .withColumn("cosine", cosine_similarity("__cv", "__qv"))
            .filter(F.col("cosine") >= F.lit(min_cosine))
            .select(F.col("__qid").alias(q_id_col),
                    F.col("__cid").alias(id_col), "cosine"))


def nearest_centroid_per_label(embeddings: DataFrame,
                               label_col: str = "label",
                               vec_col: str = "embedding") -> DataFrame:
    """For each label, the most cosine-similar OTHER label's
    centroid (10×10 cross join of a tiny aggregate — broadcast)."""
    cents = label_centroids(embeddings, label_col, vec_col)
    a = cents.select(F.col(label_col).alias("label"),
                     F.col("centroid").alias("ca"))
    b = cents.select(F.col(label_col).alias("other_label"),
                     F.col("centroid").alias("cb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("label") != F.col("other_label"))
        .select("label", "other_label",
                cosine_similarity("ca", "cb").alias("cosine"))
    )
    # max of (cosine, other_label) struct: deterministic even under
    # cosine ties (lexicographic struct ordering).
    return pairs.groupBy("label").agg(
        F.max(F.struct("cosine", "other_label")).alias("best")
    ).select(
        "label",
        F.col("best.other_label").alias("nearest_label"),
        F.col("best.cosine").alias("cosine"),
    )


def kmeans_train(embeddings: DataFrame, k: int = 8, iters: int = 5,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 cache_key: Hashable = None) -> DataFrame:
    """Deterministic spherical k-means over the embedding column —
    the iterative-algorithm surface (the codebook trainer whose
    output knn_ivf / cosine_pairs_blocked consume).

    The fit (``_kmeans_fit``) runs each Lloyd iteration as ONE Spark
    job over the persisted vectors: every task assigns its rows to
    their max-cosine centroid (``_nearest_centroid``, the kernel
    ``ivf_assign_gemm`` uses; the k×dim codebook ships in the closure) and emits at most k
    per-label (count, vector sum) partials; the driver adds them and
    divides. Per iteration the driver receives at most tasks×k×dim
    partial sums, whatever n is, and the codebook never re-enters
    Spark between iterations (the standard Spark iterative-algorithm
    pattern without the lineage: iteration N's job does not replay
    iterations 1..N-1). At 100 TB the assignment pass is the only
    data-sized work and it is linear per iteration.

    Everything is deterministic by construction: init picks the k
    vectors with the lowest (md5(id), id) — a seeded pseudo-random
    draw with a total-order tie-break — and the argmax breaks
    centroid ties by lowest label. A label no vector chose drops out;
    the others keep their ids. No RNG, no partition-order dependence
    beyond float-sum associativity.

    Returns (id, list_id, ccos): final assignment plus the winning
    cosine. Declared rows-only downstream — a 5-deep iterative CTE
    is not meaningfully SQL-expressible; convergence and determinism
    are pinned in tests/test_dedup_knn.py.

    ``cache_key`` (source fingerprint): the Lloyd fit is an EAGER
    driver loop (iters + a constant number of jobs at
    plan-construction time), fully determined by (source, k, iters) —
    with a key it runs once per session via keyed_value (the bench's
    cold pass still pays it; warm passes measure steady state).
    """
    spark = embeddings.sparkSession
    if cache_key is not None:
        cent_rows = keyed_value(
            f"kmeans_fit_k{k}_i{iters}",
            (cache_key, id_col, vec_col),
            lambda: _kmeans_fit(embeddings, k, iters, id_col, vec_col))
    else:
        cent_rows = _kmeans_fit(embeddings, k, iters, id_col, vec_col)
    cents = local_frame(spark, cent_rows, _CODEBOOK_SCHEMA)
    return ivf_assign_gemm(embeddings.select(id_col, vec_col), cents,
                           id_col, vec_col, with_score=True).select(
        id_col, "list_id", F.round("ccos", 6).alias("ccos"))


_CODEBOOK_SCHEMA = "label int, centroid array<double>"


def kmeans_codebook(embeddings: DataFrame, k: int = 8, iters: int = 5,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    fit_sample_max: int | None = None,
                    cache_key: Hashable = None,
                    n_rows: int | None = None) -> DataFrame:
    """The TRAINED centroids themselves, ``(label, centroid)`` — the
    codebook ``knn_ivf`` / ``cosine_pairs_blocked`` consume. The
    returned DataFrame is a LocalRelation over k driver-held rows —
    collecting or broadcasting it runs no job.

    ``fit_sample_max``: fit on a deterministic hash-sample of at most
    ~this many vectors (the standard IVF practice — codebook quality
    saturates long before the full corpus is seen, and at 100 TB
    fitting on the full relation would cost iters × full scans for no
    quality gain). The sample is pmod(portable_hash60(id), denom) —
    stable across runs, partitionings, AND engines (the md5-derived
    family of operators/dedup.py, so a SQL oracle can re-derive the
    exact sample and therefore the exact trained codebook). Only the
    FIT is sampled; callers assign the full relation against the
    result. ``n_rows``: the relation's row count, when the caller
    already holds it, so the sample denominator costs no count job."""
    from project_2_semantic_similarity_spark.operators.dedup import (
        portable_hash60)

    spark = embeddings.sparkSession

    def fit_rows() -> list[tuple]:
        fit = embeddings
        if fit_sample_max is not None:
            n = embeddings.count() if n_rows is None else n_rows
            if n > fit_sample_max:
                denom = -(-n // fit_sample_max)  # ceil
                fit = embeddings.where(
                    F.pmod(portable_hash60(
                        F.col(id_col).cast("string")),
                        F.lit(denom)) == 0)
        return _kmeans_fit(fit, k, iters, id_col, vec_col)

    # same once-per-session memo as kmeans_train: the fit (and its
    # count probe) is an eager driver loop determined by
    # (source, k, iters, sample bound)
    if cache_key is not None:
        rows = keyed_value(
            f"kmeans_codebook_k{k}_i{iters}_s{fit_sample_max}",
            (cache_key, id_col, vec_col), fit_rows)
    else:
        rows = fit_rows()
    return local_frame(spark, rows, _CODEBOOK_SCHEMA)


def _kmeans_fit(embeddings: DataFrame, k: int, iters: int,
                id_col: str, vec_col: str) -> list[tuple]:
    """Lloyd iterations (spherical, deterministic); returns the final
    (label, centroid) rows, label ascending. The vectors are spread
    and persisted once; the init collect materializes them, then each
    iteration is one ``mapInPandas`` job whose tasks return at most k
    ``(label, n, s)`` rows — member count and raw vector sum — and the
    driver's new centroid is Σs / Σn, the raw mean of the members.
    The persisted base is released in finally."""
    import numpy as np

    base = _spread(embeddings.select(id_col, vec_col), id_col).persist()
    try:
        init = (base.orderBy(F.md5(F.col(id_col).cast("string")),
                             F.col(id_col))
                .limit(k).select(vec_col).collect())
        cent_rows = [(i, [float(x) for x in r[0]])
                     for i, r in enumerate(init)]
        vecs = base.select(vec_col)
        for _ in range(iters):
            labels, cn = _unit_codebook(cent_rows)

            def partials(batches, labels=labels, cn=cn):
                import pandas as pd

                sums = np.zeros(cn.shape)
                counts = np.zeros(len(labels), dtype=np.int64)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    x = _vectors(pdf[vec_col])
                    best, _ = _nearest_centroid(x, cn)
                    np.add.at(sums, best, x)
                    counts += np.bincount(best, minlength=len(labels))
                hit = np.flatnonzero(counts)
                if len(hit):
                    yield pd.DataFrame({
                        "label": labels[hit].astype("int32"),
                        "n": counts[hit],
                        "s": list(sums[hit]),
                    })

            count, total = {}, {}
            for r in vecs.mapInPandas(
                    partials,
                    schema="label int, n long, s array<double>").collect():
                lbl = int(r["label"])
                count[lbl] = count.get(lbl, 0) + int(r["n"])
                total[lbl] = total.get(lbl, 0.0) + np.asarray(
                    r["s"], dtype=np.float64)
            cent_rows = [(lbl, (total[lbl] / count[lbl]).tolist())
                         for lbl in sorted(count)]
        return cent_rows
    finally:
        base.unpersist()


def pq_knn(embeddings: DataFrame, query_vec_id: int, k: int,
           m_sub: int = 8, sub_dim: int = 8, k_sub: int = 16,
           cand_mult: int = 8, id_col: str = "vec_id",
           vec_col: str = "embedding",
           candidates: DataFrame | None = None,
           cache_key: Hashable = None) -> DataFrame:
    """Product-quantization ANN (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011): split each unit-
    normalized vector into ``m_sub`` subspaces of ``sub_dim`` dims,
    snap every subvector to its nearest entry of a per-subspace
    codebook, rank by the asymmetric (ADC) dot product
    Σₘ ⟨qₘ, cv[m, code_m]⟩, then exact-cosine re-rank the top
    ``k·cand_mult`` candidates.

    The sub-codebooks here are a deterministic SEEDED SAMPLE — the
    ``k_sub`` corpus vectors with the lowest ``(md5(id), id)``, the
    same portable pseudo-random draw kmeans_codebook's fit sample
    uses — with zero Lloyd refinement. That choice is what makes the
    WHOLE pipeline (codebook, encoding argmin, ADC scan, re-rank)
    re-derivable by a plain SQL oracle; swap the seed rows for
    ``kmeans_codebook`` output per subspace to get the classically
    trained variant at identical plan shape.

    Scale shape (the FAISS IVF-PQ recipe, minus the IVF stage this
    engine already has in ``knn_ivf_probe`` — compose them by running
    this scan per probed list):
    - codebook: m_sub × k_sub rows collected/broadcast — bounded,
      independent of n;
    - encode: one broadcast join + ONE map-side-combinable hash agg
      (``min(struct(d², code))`` is an argmin the partial-agg absorbs
      — no window sort over the n×m_sub relation);
    - the code table is n × m_sub small ints — the 16–32×-compressed
      index an ADC scan reads INSTEAD of the float corpus; at 100 TB
      of vectors only the k·cand_mult re-rank rows ever touch the
      original embeddings again;
    - ADC scoring: broadcast joins + one hash agg, linear in n, no
      shuffle of the vector payload;
    - top-k / top-candidates both plan as TakeOrderedAndProject.

    ``candidates``: optional one-column (id) relation restricting the
    ADC scan — the IVF-PQ composition (``knn_ivf_pq``) passes the
    probed inverted lists' members here. The CODE TABLE is always
    built (and, with ``cache_key``, cached) over the full corpus —
    encoding is an index-build property, the restriction a query
    property; per-vector codes don't depend on other vectors, so
    filtering after encode is exactly equivalent to filtering
    before. At scale the restriction is a partition-pruned read of
    the code table laid out by list_id (sink_ivf_partitioned), not
    a join.

    ``cache_key``: slots the code table (``keyed_persist``, one
    entry per corpus snapshot + PQ knobs) and the collected seed
    codebook (``keyed_value`` slot ``pq_seeds``) — repeated queries
    skip the index build entirely, the materialize-once-query-many
    shape a vector index has in production.
    """
    # The norm enters the division through array_repeat, outside any
    # lambda: a norm referenced inside transform's lambda is folded
    # once per element once Catalyst inlines the projection.
    nrm = F.col("__nrm")
    unit = (
        embeddings.select(id_col, vec_col, l2_norm(vec_col).alias("__nrm"))
        .where(nrm > 0)
        .select(id_col, F.zip_with(
            vec_col, F.array_repeat(nrm, F.size(vec_col)),
            lambda x, n: F.try_divide(x.cast("double"), n)).alias("uv"))
    )
    spark = embeddings.sparkSession

    seeds = keyed_value(
        "pq_seeds", None if cache_key is None else (cache_key, k_sub),
        lambda: [[float(x) for x in r["uv"]] for r in
                 unit.orderBy(F.md5(F.col(id_col).cast("string")),
                              F.col(id_col))
                 .limit(k_sub).select("uv").collect()])
    subcents = local_frame(
        spark,
        [(m, c, seeds[c][m * sub_dim:(m + 1) * sub_dim])
         for m in range(m_sub) for c in range(len(seeds))],
        "m int, code int, cv array<double>")

    def _slices(src: DataFrame) -> DataFrame:
        return src.select(
            id_col,
            F.explode(F.array(*[
                F.struct(F.lit(m).alias("m"),
                         F.slice("uv", m * sub_dim + 1, sub_dim)
                         .alias("sv"))
                for m in range(m_sub)])).alias("s"),
        ).select(id_col, "s.m", "s.sv")

    def _build_codes() -> DataFrame:
        scored = _slices(unit).join(F.broadcast(subcents), "m").select(
            id_col, "m", "code",
            F.aggregate(
                F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x).alias("d2"))
        return (scored.groupBy(id_col, "m")
                .agg(F.min(F.struct("d2", "code")).alias("w"))
                .select(id_col, "m", F.col("w.code").alias("code")))

    codes = keyed_persist(
        "pq_codes",
        None if cache_key is None
        else (cache_key, m_sub, sub_dim, k_sub),
        _build_codes)
    if candidates is not None:
        codes = codes.join(candidates, id_col, "semi")

    qsubs = _slices(unit.where(F.col(id_col) == query_vec_id)).select(
        F.col("m").alias("qm"), F.col("sv").alias("qsv"))
    adc = (codes.where(F.col(id_col) != query_vec_id)
           .join(F.broadcast(subcents), ["m", "code"])
           .join(F.broadcast(qsubs), F.col("m") == F.col("qm"))
           .select(id_col, dot("qsv", "cv").alias("ip"))
           .groupBy(id_col).agg(F.sum("ip").alias("adc")))
    cand = adc.orderBy(F.desc("adc"), F.asc(id_col)).limit(k * cand_mult)

    q = embeddings.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qvec"))
    return (embeddings.join(F.broadcast(cand), id_col)
            .crossJoin(F.broadcast(q))
            .select(id_col,
                    cosine_similarity(vec_col, "__qvec").alias("cosine"),
                    "adc")
            .orderBy(F.desc("cosine"), F.asc(id_col)).limit(k))


# ------------------------------------------------------------------
# Driver-sized tables: one bounded Arrow fetch per snapshot decides the
# branch and brings the vectors; numpy does the search; past the bound
# the distributed operators above run unchanged.

# Row bound of ``vectors_local``: 4 MB of float32 at dim 64.
VEC_LOCAL_MAX_ROWS = 1 << 14
# ``cosine_pairs_local`` drops its result past this many pairs.
COSINE_LOCAL_MAX_PAIRS = 1 << 20
# float64 bytes one row block of ``cosine_pairs_local`` holds: its
# cosine block and the norm product that block is divided by.
_COSINE_BLOCK_BYTES = 8 << 20


class LocalVectors(NamedTuple):
    """An embeddings table on the driver, in fetch order: unique
    integer ``ids``, integer ``labels`` and the finite n×dim matrix
    ``x`` in the column's float type."""

    ids: object
    labels: object
    x: object


def vectors_local(embeddings: DataFrame, cache_key: Hashable,
                  id_col: str = "vec_id", label_col: str = "label",
                  vec_col: str = "embedding") -> LocalVectors | None:
    """The table as ``LocalVectors`` when the driver kernels can take
    it, else None, and the caller runs its distributed path.

    One pass decides and fetches:
    ``select(id, label, vector).limit(VEC_LOCAL_MAX_ROWS + 1).toArrow()``
    reads at most one row past the bound, so a huge table costs a
    bounded scan. A table the kernels do not model also answers None:
    a null anywhere, a non-integer id or label, a repeated id, ragged
    or non-finite vectors. The answer is memoized in slot
    ``vectors_local`` under ``(cache_key, columns, bound)``, so the
    vector queries of one snapshot share a single fetch;
    ``cache_key=None`` fetches on every call."""

    def fetch() -> LocalVectors | None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        t = (embeddings.select(id_col, label_col, vec_col)
             .limit(VEC_LOCAL_MAX_ROWS + 1).toArrow())
        if t.num_rows > VEC_LOCAL_MAX_ROWS:
            return None
        ids, labels, vecs = (c.combine_chunks() for c in t.columns)
        if (ids.null_count or labels.null_count or vecs.null_count
                or not pa.types.is_integer(ids.type)
                or not pa.types.is_integer(labels.type)
                or not pa.types.is_floating(vecs.type.value_type)):
            return None
        lens = pc.list_value_length(vecs).to_numpy()
        dim = int(lens[0]) if len(lens) else 0
        flat = vecs.flatten()
        ids = ids.to_numpy()
        if (flat.null_count or (lens != dim).any()
                or np.unique(ids).size != ids.size):
            return None
        x = flat.to_numpy().reshape(ids.size, dim)
        if not np.isfinite(x).all():
            return None
        return LocalVectors(ids, labels.to_numpy(), x)

    return keyed_value(
        "vectors_local",
        None if cache_key is None
        else (cache_key, id_col, label_col, vec_col, VEC_LOCAL_MAX_ROWS),
        fetch)


def cosine_pairs_local(embeddings: DataFrame, min_cosine: float,
                       cache_key: Hashable = None,
                       id_col: str = "vec_id", label_col: str = "label",
                       vec_col: str = "embedding") -> DataFrame | None:
    """``cosine_pairs_blocked_gemm``'s pairs, every ``(vec_a, vec_b,
    cosine)`` with vec_a < vec_b and cosine > ``min_cosine``, computed
    on the driver from ``vectors_local`` and returned through
    ``session.local_frame``. None when the table is not driver-sized
    or the pairs pass ``COSINE_LOCAL_MAX_PAIRS``; the caller then runs
    the distributed join.

    Exact all-pairs with the gemm kernel's cosine, ``(m1 @ m2.T) /
    outer(n1, n2)`` in float64, where a non-finite value (a zero-norm
    vector) never passes. The rows are sorted by id and each block of
    rows is scored against itself and every later row, the block's
    float64 buffers held to ``_COSINE_BLOCK_BYTES``."""
    import numpy as np
    import pyarrow as pa

    vecs = vectors_local(embeddings, cache_key, id_col, label_col, vec_col)
    if vecs is None:
        return None
    order = np.argsort(vecs.ids)
    ids = vecs.ids[order]
    m = vecs.x[order].astype(np.float64)
    nrm = np.linalg.norm(m, axis=1)
    n = ids.size
    step = max(1, _COSINE_BLOCK_BYTES // (16 * max(n, 1)))
    out_a, out_b, out_c, total = [ids[:0]], [ids[:0]], [np.zeros(0)], 0
    for r0 in range(0, n, step):
        cos = m[r0:r0 + step] @ m[r0:].T
        with np.errstate(divide="ignore", invalid="ignore"):
            np.divide(cos, np.outer(nrm[r0:r0 + step], nrm[r0:]), out=cos)
            ia, ib = np.nonzero(np.isfinite(cos) & (cos > min_cosine))
        keep = ia < ib  # row r0+ia against row r0+ib: ids ascend
        ia, ib = ia[keep], ib[keep]
        total += ia.size
        if total > COSINE_LOCAL_MAX_PAIRS:
            return None
        out_a.append(ids[r0 + ia])
        out_b.append(ids[r0 + ib])
        out_c.append(cos[ia, ib])
    id_type = dict(embeddings.dtypes)[id_col]
    return local_frame(
        embeddings.sparkSession,
        pa.table([np.concatenate(out_a), np.concatenate(out_b),
                  np.concatenate(out_c)], names=["vec_a", "vec_b", "cosine"]),
        f"vec_a {id_type}, vec_b {id_type}, cosine double")


def _fold_dot(a, b):
    """``functions.dot`` in numpy over the last axis (leading axes
    broadcast): float64 products added left to right onto 0.0, the
    order of Spark's ``aggregate`` fold, where ``np.sum`` or BLAS may
    round differently in the last bit."""
    import numpy as np

    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for j in range(a.shape[-1]):
        acc = acc + a[..., j] * b[..., j]
    return acc


def _fold_cosine(a, b, na, nb):
    """``functions.cosine_similarity`` from the operands' norms: NaN
    stands for its NULL, where ``try_divide`` meets a zero product."""
    import numpy as np

    den = na * nb
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0, np.nan, _fold_dot(a, b) / den)


def _top(score, ids, n: int):
    """Indices of the first ``n`` entries ordered by NULL (NaN) last,
    then ``score`` descending, then ``ids`` ascending."""
    import numpy as np

    null = np.isnan(score)
    return np.lexsort((ids, np.where(null, 0.0, -score), null))[:n]


def _ivf_members(labels, x, nrm, qi: int, nprobe: int):
    """knn_ivf_pq's IVF stage: whether each row of ``x`` sits in one
    of the ``nprobe`` inverted lists nearest to row ``qi``. The lists
    are ``label_centroids`` (label means, each summed in row order);
    ``ivf_assign`` puts a row in the list of a NULL cosine if it has
    one (its ``min_by`` orders a NULL ``-ccos`` first), else of the
    highest cosine, the lowest label winning ties; the probe ranks
    lists by the query's cosine with ``_top``."""
    import numpy as np

    lab, inv = np.unique(labels, return_inverse=True)
    cents = np.zeros((lab.size, x.shape[1]))
    np.add.at(cents, inv, x)
    cents /= np.bincount(inv)[:, None]
    cnrm = np.sqrt(_fold_dot(cents, cents))
    ccos = _fold_cosine(x[:, None, :], cents[None, :, :],
                        nrm[:, None], cnrm[None, :])
    null = np.isnan(ccos)
    assign = np.where(null.any(axis=1), null.argmax(axis=1),
                      np.where(null, -np.inf, ccos).argmax(axis=1))
    probed = _top(_fold_cosine(cents, x[qi], cnrm, nrm[qi]), lab, nprobe)
    return np.isin(assign, probed)


def pq_knn_local(embeddings: DataFrame, query_vec_id: int, k: int,
                 m_sub: int = 8, sub_dim: int = 8, k_sub: int = 16,
                 cand_mult: int = 8, nprobe: int | None = None,
                 cache_key: Hashable = None, id_col: str = "vec_id",
                 label_col: str = "label",
                 vec_col: str = "embedding") -> DataFrame | None:
    """``pq_knn``'s ``(id, cosine, adc)`` rows computed on the driver
    from ``vectors_local`` and returned through ``session.local_frame``
    in rank order. None when the table is not driver-sized or holds
    the query with vectors shorter than ``m_sub * sub_dim``; the
    caller then runs ``pq_knn``.

    ``nprobe`` puts knn_ivf_pq's IVF stage in front
    (``_ivf_members``): only the members of the query's ``nprobe``
    nearest label-centroid lists are ADC candidates. Without it every
    vector but the query is one, as in ``pq_knn``.

    The steps keep the distributed plan's arithmetic and order: norms,
    dot products and cosines are Spark's left folds (``_fold_dot``);
    the seeds are the ``k_sub`` unit vectors with the lowest
    ``(md5(str(id)), id)``; a subvector's code is its nearest seed
    slice by d², ties to the lowest code; the ADC sum adds the
    subspaces in order; the top ``k * cand_mult`` by ADC and then the
    top ``k`` by exact cosine are cut with ``_top``. A query that is
    missing or has zero norm gives no rows, as in ``pq_knn``."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    vecs = vectors_local(embeddings, cache_key, id_col, label_col, vec_col)
    if vecs is None:
        return None
    spark = embeddings.sparkSession
    schema = (f"{id_col} {dict(embeddings.dtypes)[id_col]}, "
              "cosine double, adc double")
    hit = np.flatnonzero(vecs.ids == query_vec_id)
    width = m_sub * sub_dim
    if hit.size and vecs.x.shape[1] < width:
        return None
    x = vecs.x.astype(np.float64)
    nrm = np.sqrt(_fold_dot(x, x))
    if not hit.size or nrm[hit[0]] == 0:
        return local_frame(spark, [], schema)
    qi = hit[0]
    unit = np.divide(x, nrm[:, None], out=np.zeros_like(x),
                     where=nrm[:, None] > 0)
    urows = np.flatnonzero(nrm > 0)
    ids = vecs.ids.tolist()
    seeds = sorted(urows.tolist(), key=lambda r: (
        hashlib.md5(str(ids[r]).encode()).hexdigest(), ids[r]))[:k_sub]
    cv = unit[seeds, :width].reshape(len(seeds), m_sub, sub_dim)
    cand = (nrm > 0) & (vecs.ids != query_vec_id)
    if nprobe is not None:
        cand &= _ivf_members(vecs.labels, x, nrm, qi, nprobe)
    rows = np.flatnonzero(cand)
    sv = unit[rows, :width].reshape(rows.size, m_sub, sub_dim)
    qsv = unit[qi, :width].reshape(m_sub, sub_dim)
    adc = np.zeros(rows.size)
    for m in range(m_sub):
        d2 = np.zeros((rows.size, len(seeds)))
        for j in range(sub_dim):
            diff = sv[:, m, j, None] - cv[None, :, m, j]
            d2 = d2 + diff * diff
        adc = adc + _fold_dot(qsv[m], cv[:, m])[np.argmin(d2, axis=1)]
    top = _top(adc, vecs.ids[rows], k * cand_mult)
    rows, adc = rows[top], adc[top]
    cos = _fold_cosine(x[rows], x[qi], nrm[rows], nrm[qi])
    best = _top(cos, vecs.ids[rows], k)
    return local_frame(spark, pa.table(
        [vecs.ids[rows[best]], pa.array(cos[best], mask=np.isnan(cos[best])),
         adc[best]], names=[id_col, "cosine", "adc"]), schema)
