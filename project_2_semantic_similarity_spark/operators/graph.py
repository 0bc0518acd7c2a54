"""Graph operators for dedup clustering (SURVEY.md §2.B
"LLM-data-pipeline extensions"): connected components over a
near-duplicate pair relation.

Why this exists: pair-level dedup (jaccard_pairs, cosine pairs,
minhash candidates) yields EDGES; a training pipeline needs the
CLUSTERS those edges imply — "these 7 docs are all the same
article" — so it can keep exactly one representative per cluster.
One-hop suppression (dedup_pipeline) drops the b-side of each pair;
transitive closure additionally collapses chains a~b~c where (a, c)
was never itself a discovered pair.

Scale design: a near-dup pair relation is usually far smaller than
the corpus it came from, so ``dedup_clusters`` collects up to
``CC_LOCAL_MAX_EDGES`` pairs in one Arrow pass and labels them on the
driver (``min_label_components``, numpy). Past that bound the
distributed ``connected_components`` runs: iterative DataFrame
min-label propagation. The MapReduce connected-components literature
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) shows label propagation converges in O(diameter) rounds;
near-dup graphs are star-/clique-like (duplicates of one source
article), so diameter is small and bounded rounds suffice. Each
round is one shuffle: an equi-join of the label relation with the
edge relation on the node key followed by a min-aggregate — both
hash-partitioned on node id, no skew beyond a cluster's degree.
Each round's label relation is localCheckpointed and the previous
one released, truncating lineage so round N does not replay rounds
1..N-1. Convergence is one count-aggregate per round over the rows
whose label changed — type-agnostic (string or numeric node ids),
one scalar driver action, never a data-sized collect."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

# dedup_clusters labels the pair graph on the driver while it has at
# most this many pairs: two int64 id columns, about 16 MB before the
# numpy temporaries (SCALE.md has the measured driver peak).
CC_LOCAL_MAX_EDGES = 1 << 20


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_rounds: int = 20) -> DataFrame:
    """Connected components of the undirected graph given as a pair
    relation. Returns ``(node, component_id)`` for every node that
    appears in at least one pair, where ``component_id`` is the
    minimum node id in the component UNDER THE ID COLUMN'S NATURAL
    ORDERING (numeric min for numeric ids, lexicographic min for
    strings — either way a deterministic canonical representative;
    ``F.min``/``F.least`` and the fixed point all use that same
    order, so the propagation is monotone for any orderable type).

    The returned DataFrame is localCheckpoint-materialized: lineage
    is truncated and every per-round cache entry has been released —
    callers own no unpersist obligation.

    Raises ``RuntimeError`` if the propagation has not reached a
    fixed point after ``max_rounds`` (diameter larger than the
    bound) rather than returning a partially-merged labeling."""
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    cached = None
    try:
        edges.persist()
        cached = (
            edges.select(F.col("u").alias("node")).distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
        labels = cached
        for _ in range(max_rounds):
            # Min label among self + neighbors; per-node labels are
            # non-increasing in the column's ordering, so "no row
            # changed" is a true fixed point.
            neighbor_min = (
                edges.join(labels, edges["v"] == labels["node"])
                .groupBy(F.col("u").alias("node"))
                .agg(F.min("label").alias("nbr_label"))
            )
            # localCheckpoint, not persist: one round references the
            # label relation twice, so a merely-persisted chain grows
            # the LOGICAL plan 2^rounds — past ~10 rounds the
            # analyzer/AQE explain machinery (not the data) OOMs.
            # Checkpointing resets the plan to a LogicalRDD leaf
            # each round; the previous round's block is released
            # eagerly below.
            stepped = (
                labels.withColumnRenamed("label", "old_label")
                .join(neighbor_min, "node", "left")
                .select(
                    "node", "old_label",
                    F.least(
                        F.col("old_label"),
                        F.coalesce(F.col("nbr_label"),
                                   F.col("old_label")),
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            n_changed = stepped.filter(
                F.col("label") != F.col("old_label")).count()
            _release_local_checkpoint(cached)
            cached = stepped
            labels = stepped.select("node", "label")
            if n_changed == 0:
                # Materialize off the per-round checkpoint chain so
                # the last per-round block can be released too.
                return labels.select(
                    "node", F.col("label").alias("component_id"),
                ).localCheckpoint(eager=True)
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds")
    finally:
        if cached is not None:
            _release_local_checkpoint(cached)
        edges.unpersist()


def dedup_clusters(pairs: DataFrame, src: str = "doc_a",
                   dst: str = "doc_b") -> DataFrame:
    """Duplicate clusters from near-dup pairs: every clustered doc
    with its canonical representative (min doc id in the component,
    under the id column's natural ordering) and the cluster size.
    ``(doc_id, component_id, component_size)``, non-singleton
    components only (singletons never appear in a pair, hence carry
    no dedup decision). The id columns keep the pair columns' type.

    One Arrow collect of at most ``CC_LOCAL_MAX_EDGES + 1`` pairs both
    measures the graph and fetches it. Within the bound the components
    are labelled on the driver and returned through
    ``session.local_frame`` (a LocalRelation below Spark's Arrow
    local-relation threshold, so reading the result runs no Spark
    job); ``np.unique`` sorts ids in Spark's order (numeric for
    numbers, code point — UTF-8 byte order — for strings), so the
    representatives are the ones ``connected_components`` picks. Pairs
    with a null end are not edges. Past the bound the distributed
    ``connected_components`` loop runs, computing the pairs again."""
    import numpy as np
    import pyarrow as pa

    from project_2_semantic_similarity_spark.session import local_frame

    fetched = pairs.select(src, dst).limit(CC_LOCAL_MAX_EDGES + 1).toArrow()
    if fetched.num_rows > CC_LOCAL_MAX_EDGES:
        comp = connected_components(pairs, src, dst)
        sizes = comp.groupBy("component_id").agg(
            F.count("*").cast("bigint").alias("component_size"))
        return (
            comp.join(sizes, "component_id")
            .select(F.col("node").alias("doc_id"), "component_id",
                    "component_size")
        )
    fetched = fetched.drop_null()
    ids = pa.chunked_array(
        fetched.column(0).chunks + fetched.column(1).chunks,
        fetched.schema.field(0).type)
    _, first, inv = np.unique(ids.to_numpy(), return_index=True,
                              return_inverse=True)
    m = fetched.num_rows
    lab = min_label_components(inv[:m], inv[m:], first.size)
    a, b = pairs.schema[src], pairs.schema[dst]
    nullable = a.nullable or b.nullable
    schema = StructType([
        StructField("doc_id", a.dataType, nullable),
        StructField("component_id", a.dataType, nullable),
        StructField("component_size", LongType(), False)])
    return local_frame(pairs.sparkSession, pa.table([
        ids.take(first), ids.take(first[lab]),
        np.bincount(lab, minlength=first.size)[lab]],
        names=schema.names), schema)


def pagerank_weighted(wedges: DataFrame, nodes: DataFrame | None = None,
                      n_iters: int = 5, damping: float = 0.85,
                      reset: float = 0.15) -> DataFrame:
    """PageRank over a DANGLING-FREE weighted edge relation
    ``(src, dst, w)`` where ``w`` is the src→dst contribution
    fraction (sum of w over each src's out-edges = 1). Returns
    ``(node, rank)`` after ``n_iters`` damped power iterations from
    uniform init 1.0. Node ids may be any equi-joinable type; pack
    composite identities into one column (bit-packed ints beat
    strings — measured ~2× on join+agg, plans/q_analytics.py).

    Dangling-freeness is the caller's contract (symmetrize the edge
    list, or pre-drop sink nodes): it makes the update closed-form —
    every node receives contributions, so no leaked-mass term and no
    per-round nodes left-join. With uniform init and this contract,
    total rank mass is invariant (= |nodes|) every iteration, which
    tests pin.

    Scale shape: the loop body touches ONLY persisted relations —
    wedges once, each round's ranks replacing the previous
    (persist-and-release, as connected_components above); per
    iteration one equi-join on src (rank relation ≪ edges —
    AQE broadcasts while it fits; Pregel-style src-pre-partitioning
    past that) and one map-side-combined agg on dst. Result is
    localCheckpoint-materialized: lineage truncated, callers own no
    unpersist obligation."""
    wedges = wedges.persist()
    if nodes is None:
        nodes = wedges.select(F.col("src").alias("node")).distinct()
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node"))
    nodes = nodes.persist()
    ranks = nodes.withColumn("rank", F.lit(1.0))
    prev = None
    try:
        for _ in range(n_iters):
            ranks = (
                wedges.join(ranks, F.col("src") == F.col("node"))
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("w")).alias("contrib"))
                .select(
                    F.col("dst").alias("node"),
                    (F.lit(reset) + F.lit(damping) * F.col("contrib"))
                    .alias("rank"))
            ).persist()
            ranks.count()  # materialize before releasing the parent round
            if prev is not None:
                prev.unpersist()
            prev = ranks
        return ranks.localCheckpoint(eager=True)
    finally:
        # ranks is the last round, or the round that raised
        ranks.unpersist()
        if prev is not None:
            prev.unpersist()
        wedges.unpersist()
        nodes.unpersist()


def connected_components_star(pairs: DataFrame, src: str = "doc_a",
                              dst: str = "doc_b",
                              max_rounds: int = 15) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the scale path for HIGH-DIAMETER graphs, where the
    min-label propagation above (connected_components) needs
    O(diameter) shuffle rounds but star alternation provably
    converges in O(log^2 n) (O(log n) in practice): each round
    rewires every node toward its neighborhood minimum, halving
    chain depth instead of walking it.

    Edge relation is kept canonical as (a, b) with a > b under the
    id column's natural ordering; both operations are one hash
    aggregation (per-node min) plus one equi-join back — shuffle
    partitioned by node id, volume bounded by the live edge count,
    which is non-increasing across rounds. Convergence is a
    subtract-emptiness probe per round (metadata-sized driver
    actions only). Each round's edge relation is
    localCheckpoint-materialized, NOT merely persisted: one star
    round references its input ~8 times (symmetric adjacency, two
    joins, the convergence subtract), so without lineage truncation
    the logical plan grows 8^rounds and the analyzer — not the data
    — becomes the bottleneck (a 30-node chain overflowed the 2 GiB
    plan-string cap). The previous round's checkpoint RDD is
    released eagerly via its LogicalRDD handle (ContextCleaner
    would get it eventually; eager release keeps the leak test's
    accounting exact).

    Returns (node, component_id), component_id = component min, for
    every node incident to at least one edge. Raises RuntimeError if
    not converged within max_rounds."""
    canon = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = canon
    prev_n = edges.count()
    try:
        for _ in range(max_rounds):
            # Large-star: every node u links its LARGER neighbors to
            # min(N(u) ∪ {u}). Operates on the symmetric adjacency.
            adj = edges.union(
                edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
            lmins = adj.groupBy(F.col("a").alias("u")).agg(
                F.min("b").alias("mn"))
            # No distinct here: adj is duplicate-free by
            # construction, so large-star only produces duplicate
            # (v, m) pairs when two rewirings collide — bounded
            # residue that the round-final distinct cleans. Dropping
            # the mid-round distinct saves one full shuffle per
            # round.
            large = (
                adj.join(lmins, adj["a"] == lmins["u"])
                .filter(F.col("b") > F.col("a"))
                .select(F.col("b").alias("a"),
                        F.least(F.col("mn"), F.col("u")).alias("b"))
                .filter(F.col("a") != F.col("b"))
            )
            # Small-star: every node links its SMALLER-or-equal
            # neighbors (canonical b-side) plus itself to their min.
            smins = large.groupBy("a").agg(F.min("b").alias("m"))
            stepped = (
                large.join(smins, "a")
                .filter(F.col("b") != F.col("m"))
                .select(F.col("b").alias("a"), F.col("m").alias("b"))
                .union(smins.select("a", F.col("m").alias("b")))
                .filter(F.col("a") != F.col("b"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            # Both relations are distinct, so equal counts plus
            # stepped ⊆ edges imply set equality — the second
            # subtract direction is redundant, and when counts
            # differ no subtract is needed at all.
            n = stepped.count()
            changed = (n != prev_n
                       or stepped.subtract(edges).limit(1).count() > 0)
            prev_n = n
            _release_local_checkpoint(edges)
            edges = stepped
            if not changed:
                # Fixed point: the edge relation is a disjoint union
                # of stars centered at each component's minimum.
                labels = edges.select(
                    F.col("a").alias("node"),
                    F.col("b").alias("component_id"),
                ).union(edges.select(
                    F.col("b").alias("node"),
                    F.col("b").alias("component_id"),
                )).distinct()
                return labels.localCheckpoint(eager=True)
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"{max_rounds} rounds")
    finally:
        _release_local_checkpoint(edges)


def _release_local_checkpoint(df: DataFrame) -> None:
    """Eagerly unpersist the RDD behind a localCheckpoint'd
    DataFrame via its LogicalRDD handle. Best-effort: if the
    internal shape ever changes, Spark's ContextCleaner reclaims
    the block when the last reference drops — this just makes the
    release deterministic instead of GC-timed."""
    try:
        df._jdf.queryExecution().optimizedPlan().rdd().unpersist(False)
    except Exception:
        pass


def hamming_components_np(ids, hashes, max_hamming: int,
                          bits: int = 56):
    """Driver-local exact Hamming clustering: pigeonhole-banded pair
    discovery + min-label components, entirely in numpy — the
    small-corpus fast path behind ``dedup_phash_clusters``'s
    measured-count gate.

    Produces EXACTLY the distributed composition's answer
    (``simhash_near_pairs`` → ``dedup_clusters``): the same d+1-chunk
    pigeonhole blocking (exact recall — d flips touch ≤ d chunks, so
    ≥1 chunk matches), candidates verified with an exact popcount,
    and min-label components with min-id canonical representatives —
    engine-independent integers all the way. Returns
    ``(doc_id, component_id, component_size)`` int64 arrays covering
    every node incident to ≥1 pair (singletons excluded, as over
    there).

    Cost: d+1 argsorts of n keys + a LUT popcount per candidate
    (verified in bounded slices, so peak memory is one slice plus
    the true edge list) + O(E) label propagation with pointer
    jumping (O(log n) rounds). An all-pairs n×n popcount matrix was
    measured 40+ s at n=5000 on the target host (uint64 elementwise
    ops there run at ~memory-bandwidth of 8 temporaries); banding
    does ~25x less work on real near-dup distributions. Callers gate
    on a MEASURED row count (the vocab_join discipline) so this
    never sees an unbounded corpus; past the gate the distributed
    banded join runs and ``dedup_clusters`` labels its pairs."""
    import numpy as np

    ids = np.asarray(ids, dtype=np.int64)
    order0 = np.argsort(ids, kind="stable")
    ids = ids[order0]
    h = np.asarray(hashes, dtype=np.uint64)[order0]
    n = int(ids.shape[0])
    if n == 0:
        return (np.empty(0, np.int64),) * 3

    lut = np.array([bin(v).count("1") for v in range(256)],
                   dtype=np.uint8)

    def popcount(x):
        return lut[x.view(np.uint8)].reshape(x.shape + (8,)) \
            .sum(axis=-1, dtype=np.int64)

    n_chunks = min(max_hamming + 1, bits)
    base, rem = divmod(bits, n_chunks)
    packed_parts = []
    offset = 0
    slice_cap = 1 << 24  # candidate-verification slice bound
    for c in range(n_chunks):
        width = base + (1 if c < rem else 0)
        key = (h >> np.uint64(offset)) & np.uint64((1 << width) - 1)
        offset += width
        order = np.argsort(key, kind="stable")  # idx ascending per key
        sk = key[order]
        starts = np.flatnonzero(
            np.concatenate(([True], sk[1:] != sk[:-1])))
        ends = np.concatenate((starts[1:], [n]))
        ci_parts, cj_parts, pending = [], [], 0
        for s0, s1 in zip(starts, ends):
            k = int(s1 - s0)
            if k < 2:
                continue
            idx = order[s0:s1]
            if k <= 2048:
                pi, pj = np.triu_indices(k, 1)
                ci_parts.append(idx[pi])
                cj_parts.append(idx[pj])
                pending += pi.size
            else:
                # degenerate hot bucket: block the triangle so no
                # single allocation is k², and flush per block — a
                # single pathological bucket (many near-identical
                # hashes sharing one chunk) can alone exceed the
                # slice cap, so waiting for the end of the bucket
                # would accumulate the whole k²/2 candidate set
                for b0 in range(0, k, 1024):
                    rows = idx[b0:b0 + 1024]
                    cols = idx[b0:]
                    pi, pj = np.nonzero(rows[:, None] < cols[None, :])
                    ci_parts.append(rows[pi])
                    cj_parts.append(cols[pj])
                    pending += pi.size
                    if pending >= slice_cap:
                        packed_parts.append(_verify_slice(
                            np, h, ci_parts, cj_parts, popcount,
                            max_hamming, n))
                        ci_parts, cj_parts, pending = [], [], 0
            if pending >= slice_cap:
                packed_parts.append(_verify_slice(
                    np, h, ci_parts, cj_parts, popcount,
                    max_hamming, n))
                ci_parts, cj_parts, pending = [], [], 0
        if pending:
            packed_parts.append(_verify_slice(
                np, h, ci_parts, cj_parts, popcount, max_hamming, n))
    if not packed_parts:
        return (np.empty(0, np.int64),) * 3
    packed = np.unique(np.concatenate(packed_parts))
    ei = (packed // n).astype(np.int64)
    ej = (packed % n).astype(np.int64)
    # parity with the distributed path, which pairs on
    # a.doc_id < b.doc_id: rows that happen to share a doc_id must
    # not form a distance-0 self edge (no-op under the corpus's
    # unique-doc_id invariant, kept for contract equality)
    distinct_id = ids[ei] != ids[ej]
    ei, ej = ei[distinct_id], ej[distinct_id]
    if ei.size == 0:
        return (np.empty(0, np.int64),) * 3

    # labels are indices; ids are sorted ascending, so index min ==
    # doc_id min
    lab = min_label_components(ei, ej, n)
    incident = np.zeros(n, dtype=bool)
    incident[ei] = True
    incident[ej] = True
    node_idx = np.nonzero(incident)[0]
    comp_idx = lab[node_idx]
    sizes = np.bincount(comp_idx, minlength=n)
    return ids[node_idx], ids[comp_idx], sizes[comp_idx].astype(np.int64)


def min_label_components(ei, ej, n: int):
    """Component labels of the undirected graph on nodes ``0..n-1``
    with edges ``(ei[k], ej[k])``: each node's label is the smallest
    node index in its component. Min-label propagation with pointer
    jumping (O(E) per round, about O(log n) rounds) — the same fixed
    point the distributed O(diameter) loop in
    ``connected_components`` reaches."""
    import numpy as np

    lab = np.arange(n, dtype=np.int64)
    while True:
        m = np.minimum(lab[ei], lab[ej])
        nl = lab.copy()
        np.minimum.at(nl, ei, m)
        np.minimum.at(nl, ej, m)
        nl = np.minimum(nl, nl[nl])
        if np.array_equal(nl, lab):
            return lab
        lab = nl


def _verify_slice(np, h, ci_parts, cj_parts, popcount, max_hamming,
                  n):
    """Exact-verify one slice of banded candidate pairs; returns the
    surviving edges packed as i*n+j (dedupe across chunkings happens
    once, on true edges only — candidates within one chunking are
    already distinct because its buckets partition the rows)."""
    ci = np.concatenate(ci_parts)
    cj = np.concatenate(cj_parts)
    d = popcount(h[ci] ^ h[cj])
    keep = d <= max_hamming
    return ci[keep] * np.int64(n) + cj[keep]
