"""TF-IDF term-term semantic similarity — the reference's entire
surface (reference ``app.py:1-187``), re-expressed as one lazy
DataFrame plan.

Semantics contract (SURVEY.md §2.A, verified against the reference):

- ``TF(d,t)   = occurrences(d,t) / total_tokens(d)`` where the total
  excludes the id token (app.py:13 pops it before counting; the
  denominator is summed at app.py:33-36).
- ``IDF(t)    = log10(N / df(t))`` with N = number of documents
  (app.py:125) and df = number of documents containing t
  (app.py:51-53); base-10 log explicitly (app.py:58).
- TF-IDF is computed over the **full** vocabulary; any term-pattern
  filter applies after (app.py:145), so N/df/doc-length reflect the
  unfiltered corpus.
- ``sim(q,t)  = Σ_d v_q(d)·v_t(d) / (‖v_t‖·‖v_q‖)`` with absent
  (term, doc) entries reading as 0 (app.py:78-84); the query term is
  excluded from candidates (app.py:158); exact-zero similarities are
  dropped **before** any rounding (app.py:172); top-k descending
  (app.py:175) with a deterministic term tie-break added (the
  reference leaves ties arbitrary).
- Degenerate case: query term absent (e.g. filtered out) ⇒ empty
  result (the reference divides by zero at app.py:178; we don't).

Execution shape vs the reference (SURVEY.md §3.2-3.3): the reference
crosses the executor→driver boundary three times (collect at
app.py:11,29,51) and re-parallelizes three times (app.py:17,40,57),
with groupByKey (no partial agg) shuffles. Here the whole pipeline is
one Catalyst plan: `explode` replaces the driver tokenize loop, grouped
aggregates replace the per-doc / per-term driver loops (one shuffle
each, partial+final hash agg for the similarity reduce), and top-k
plans as TakeOrderedAndProject (no total sort). The index is built
once per snapshot as ``term_index``: (doc_id, term, tfidf, norm) rows
hash-partitioned by doc_id, with each term's L2 norm computed by the
same aggregation that counts its df. A query then attaches its vector
(replacing the closure-captured dict at app.py:162) with a
partition-local shuffled hash join on doc_id — both sides read the
same doc_id-partitioned cache, so there is no exchange, broadcast or
size probe below the join, and the one shuffle is the per-term
reduce. At 100 TB: the only shuffles are hash-partitioned by doc_id /
term; hot (stopword-like) terms in the df aggregation get map-side
partial aggregation; a query's hash table holds df(query)/P rows per
partition, so even a stopword-like query never builds more than one
partition's documents.
"""

from __future__ import annotations

from collections.abc import Hashable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_2_semantic_similarity_spark.operators.cache import (
    gate, keyed_persist, keyed_value)
from project_2_semantic_similarity_spark.session import local_frame

TOKEN_SPLIT = r"\s+"


def tokenize(corpus: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, pos, term), whitespace-split.

    Replaces the reference's collect()+driver loop (app.py:11-17)
    with `posexplode` — fully distributed, no driver round-trip.
    """
    return corpus.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), TOKEN_SPLIT)).alias("pos", "term"),
    ).filter(F.col("term") != "")


def term_counts(tokens: DataFrame) -> DataFrame:
    """occurrences per (doc, term) — reference phase 1 (app.py:18-21).

    `groupBy().count()` gives hash partial+final aggregation, fixing
    the reference's groupByKey-shuffles-every-1 antipattern.
    """
    return tokens.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf_count"))


def with_doc_length(counts: DataFrame) -> DataFrame:
    """Attach per-document token total — reference phase 2
    (app.py:24-41) — as groupBy + equi-join rather than a window
    aggregate: the groupBy gets map-side partial aggregation and AQE
    skew handling, while `sum over (partition by doc_id)` would sort
    and hold each document's rows in one window partition (and AQE
    skew-split does not apply to windows)."""
    doc_len = counts.groupBy("doc_id").agg(F.sum("tf_count").alias("doc_len"))
    return counts.join(doc_len, "doc_id")


def with_doc_frequency(counts: DataFrame) -> DataFrame:
    """Attach per-term document frequency — reference phase 3 map/
    reduce (app.py:43-57). After term_counts each (doc, term) row is
    distinct, so counting rows per term equals the number of
    documents containing the term. The same aggregation sums
    ``tf_sq = Σ_d (tf_count/doc_len)²`` (``counts`` must carry
    doc_len), so the term's L2 norm needs no second pass:
    ‖v_t‖ = |idf(t)|·sqrt(tf_sq). The df table is vocabulary-sized
    (orders of magnitude smaller than the corpus) and the join is
    left UNHINTED (r12, the same policy as the tokenizer family's
    vocab joins): AQE broadcasts it under autoBroadcastJoinThreshold
    — so at every tested scale the counts relation is never shuffled
    by term, the skew-prone axis (stopword-like terms) — and
    shuffle-joins past broadcast reach, where a hard hint would die
    building a Heaps'-law-sized (10^8-10^9 distinct terms) broadcast
    before the query ran at all."""
    tf = F.col("tf_count") / F.col("doc_len")
    df_tab = counts.groupBy("term").agg(
        F.count("*").alias("df"), F.sum(tf * tf).alias("tf_sq"))
    return counts.join(df_tab, "term")


# vocab_join broadcasts the vocabulary only while it holds at most
# this many rows and, estimated from a 1024-row sample, this many bytes.
VOCAB_BROADCAST_ROWS = 4_000_000
VOCAB_BROADCAST_BYTES = 256 * 1024 * 1024


def vocab_join(left: DataFrame, vocab: DataFrame,
               on: str = "word") -> DataFrame:
    """Join a corpus-derived relation against the distinct-word
    vocabulary behind a measured-count broadcast gate. A hard
    ``F.broadcast`` hint dies building a Heaps'-law-sized (10^8-10^9
    distinct words on a 100 TB crawl) broadcast, but a bare unhinted
    join over ``localCheckpoint``ed leaves plans as SortMergeJoin:
    LogicalRDD carries no size stats, so the static planner cannot
    broadcast however small the vocab is, and AQE only converts after
    both sides' shuffle map stages have been paid (1.5-2x measured on
    the sf0.1 encode/pack family).

    The gate is rows AND bytes: vocab rows carry token string arrays,
    so a vocab near the row bound could be hundreds of MB per
    executor. A 1024-row sample (JSON octet length, a uniform
    over-estimate of row bytes) gives the average row size, and
    ``n * avg <= VOCAB_BROADCAST_BYTES`` iff ``n <= bytes // avg``, so
    the byte bound folds into the row bound of one ``cache.gate``
    (a LIMIT-bounded count). Under it the join is hinted broadcast;
    past it, unhinted and AQE-decided. Callers MUST pass a
    localCheckpointed (or otherwise materialized) vocab: on a lazy
    vocab the probe would re-run the corpus distinct. Sites that
    leave the vocab lazy keep the bare unhinted join instead."""
    avg = (vocab.limit(1024)
           .select(F.avg(F.octet_length(
               F.to_json(F.struct(*vocab.columns)))))
           .first()[0])
    bound = VOCAB_BROADCAST_ROWS
    if avg is not None:
        bound = min(bound, int(VOCAB_BROADCAST_BYTES // float(avg)))
    if gate("vocab_join_rows", None, vocab, bound):
        return left.join(F.broadcast(vocab), on)
    return left.join(vocab, on)


def _weights_and_norms(corpus: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, term, tfidf, norm), where ``norm``
    is the term's L2 norm ‖v_t‖ over all documents.

    `tfidf = (tf_count / doc_len) * log10(N / df)` (app.py:58) and
    `norm = |log10(N / df)| * sqrt(Σ_d tf²)`, both from the one
    per-term aggregation in ``with_doc_frequency``. N is computed
    in-plan via a broadcast cross-join of a 1-row aggregate — no eager
    count() job, no driver scalar, works at any scale.
    """
    n_docs = corpus.agg(F.count("*").alias("n_docs"))
    scored = with_doc_frequency(with_doc_length(term_counts(tokenize(corpus))))
    idf = F.log10(F.col("n_docs") / F.col("df"))
    return (
        scored.crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            ((F.col("tf_count") / F.col("doc_len")) * idf).alias("tfidf"),
            (F.abs(idf) * F.sqrt("tf_sq")).alias("norm"),
        )
    )


def tfidf(corpus: DataFrame) -> DataFrame:
    """Full TF-IDF pipeline: (doc_id, text) -> (doc_id, term, tfidf).
    The unused norm column is pruned from the plan, aggregate
    included."""
    return _weights_and_norms(corpus).drop("norm")


def filter_term_pattern(weights: DataFrame, prefix: str | None = None,
                        suffix: str | None = None) -> DataFrame:
    """Parameterized form of the reference's hardcoded corpus-specific
    `gene_*_gene` filter (app.py:145). Applied AFTER tfidf so N/df
    reflect the unfiltered corpus, exactly as the reference does."""
    out = weights
    if prefix:
        out = out.filter(F.col("term").startswith(prefix))
    if suffix:
        out = out.filter(F.col("term").endswith(suffix))
    return out


def term_index(corpus: DataFrame, prefix: str | None = None,
               suffix: str | None = None) -> DataFrame:
    """The query-ready term index: (doc_id, term, tfidf, norm) rows of
    the terms matching the pattern, hash-partitioned by doc_id.

    The partition count is explicit (``spark.sql.shuffle.partitions``)
    so AQE cannot coalesce the exchange: every query's doc_id join
    then reads both sides from this one partitioning with no exchange
    of its own. Persist it once per snapshot and query it many times
    (``term_similarity_pipeline``)."""
    n_parts = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return filter_term_pattern(_weights_and_norms(corpus), prefix,
                               suffix).repartition(n_parts, "doc_id")


def similar_terms(index: DataFrame, query: str, k: int = 5,
                  round_to: int | None = None) -> DataFrame:
    """Term-term cosine similarity to `query`, top-k, over a
    ``term_index``.

    Reference app.py:150-178 re-expressed: the query vector (its
    df(query) rows, each carrying ‖q‖) is inner-joined to the other
    terms' rows on doc_id — absent (term, doc) entries contribute 0 to
    the dot product, so only co-occurring rows need to meet. The join
    is a shuffled hash join building on the query side: the index is
    already hash-partitioned by doc_id, so it runs partition-local
    (no exchange, no broadcast, no size probe) and each partition's
    hash table holds only that partition's share of the query vector,
    whatever df(query) is. The per-term reduce is a hash aggregation
    (partial+final, same as the reference's one reduceByKey at
    app.py:166), divided by the stored norms (the reference computes
    ‖q‖ on the driver at app.py:156 and defers the division to print
    time, app.py:178); zero similarities are dropped pre-rounding
    (app.py:172) and top-k plans as TakeOrderedAndProject with a term
    tie-break for determinism.

    Returns (term string, similarity double). Empty when the query
    term has no vector or a zero one (the reference would divide by
    zero, app.py:178).
    """
    qvec = index.filter(F.col("term") == query).select(
        "doc_id", F.col("tfidf").alias("v1"), F.col("norm").alias("norm_q"))
    cands = index.filter(F.col("term") != query)

    sims = (
        cands.join(qvec.hint("shuffle_hash"), "doc_id")
        .groupBy("term")
        .agg(F.sum(F.col("v1") * F.col("tfidf")).alias("numerator"),
             F.max("norm").alias("norm"),
             F.max("norm_q").alias("norm_q"))
        # try_divide: a zero norm (idf = 0, i.e. the term is in every
        # document) -> NULL -> dropped below, instead of ANSI
        # div-by-zero. The reference crashes on this case
        # (app.py:110,178).
        .select(
            "term",
            F.try_divide(
                F.col("numerator"), F.col("norm") * F.col("norm_q"),
            ).alias("similarity"),
        )
        .filter(F.col("similarity").isNotNull() & (F.col("similarity") != 0))
    )
    if round_to is not None:
        sims = sims.select(
            "term", F.round("similarity", round_to).alias("similarity"))
    return sims.orderBy(F.desc("similarity"), F.asc("term")).limit(k)


def _docsim_dense_block_gemm(vecs: DataFrame, k: int,
                             round_to: int | None,
                             block_rows: int = 1024) -> DataFrame:
    """Dense-strategy pair scoring as block-pair BLAS (the
    knn_batch_topk architecture applied to tf-idf doc vectors): docs
    hash into ⌈n/block_rows⌉ blocks, each unordered doc pair lands in
    EXACTLY ONE block pair, one gram matrix per block pair, and each
    block pair emits only pairs within 2·10^-round_to of its own
    k-th best raw similarity — if k distinct pairs in the same block
    pair beat a pair by more than one rounding quantum they also beat
    it after rounding, so it cannot reach the global top-k
    (exactly-once coverage ⇒ no cross-block dedup needed, unlike the
    LSH bucket gemm). Replaces the broadcast-NLJ + interpreted
    zip_with fold over all n²/2 pairs (~7.5 s of the sf0.1 sweep).
    num > 0 and zero-norm drops inside the kernel match the fold plan
    row for row; 6-dp rounding absorbs BLAS summation-order ulps
    (same argument + hash-verification as every gemm engine here)."""
    import pandas as pd

    spark = vecs.sparkSession
    eps = 0.0 if round_to is None else 2.0 * 10.0 ** (-round_to)
    n = vecs.count()  # persisted: a cheap scalar probe
    n_blocks = max(1, -(-n // block_rows))
    blocks = (
        vecs.withColumn(
            "blk", F.pmod(F.xxhash64("doc_id"), F.lit(n_blocks)))
        .groupBy("blk")
        .agg(F.collect_list(
            F.struct("doc_id", "vec", "norm")).alias("b"))
    )
    pair_idx = local_frame(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "i long, j long")
    paired = (
        pair_idx
        .join(F.broadcast(blocks.select(F.col("blk").alias("i"),
                                        F.col("b").alias("b1"))), "i")
        .join(F.broadcast(blocks.select(F.col("blk").alias("j"),
                                        F.col("b").alias("b2"))), "j")
        .select((F.col("i") == F.col("j")).alias("same"), "b1", "b2")
    )

    def block_pair_topk(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for same, b1, b2 in zip(pdf["same"], pdf["b1"], pdf["b2"]):
                ids1 = np.array([r["doc_id"] for r in b1], dtype=object)
                m1 = np.array([r["vec"] for r in b1], dtype=np.float64)
                n1 = np.array([r["norm"] for r in b1], dtype=np.float64)
                ids2 = np.array([r["doc_id"] for r in b2], dtype=object)
                m2 = np.array([r["vec"] for r in b2], dtype=np.float64)
                n2 = np.array([r["norm"] for r in b2], dtype=np.float64)
                g = m1 @ m2.T
                den = np.outer(n1, n2)
                lt = ids1[:, None] < ids2[None, :]
                if same:
                    # each unordered in-block pair once, by id order
                    keep = lt & (g > 0) & (den > 0)
                else:
                    keep = (g > 0) & (den > 0)
                ia, ib = np.nonzero(keep)
                sim = g[ia, ib] / den[ia, ib]
                fin = np.isfinite(sim)
                ia, ib, sim = ia[fin], ib[fin], sim[fin]
                if len(sim) > k:
                    thr = np.partition(sim, -k)[-k] - eps
                    sel = sim >= thr
                    ia, ib, sim = ia[sel], ib[sel], sim[sel]
                swap = ~lt[ia, ib]
                lo = np.where(swap, ids2[ib], ids1[ia])
                hi = np.where(swap, ids1[ia], ids2[ib])
                out_a.extend(lo)
                out_b.extend(hi)
                out_s.extend(sim)
            if out_a:
                yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b,
                                    "similarity": out_s})

    # id column type follows the input (as cosine_pairs_lsh does) —
    # a bigint doc_id corpus must not be silently coerced to string
    id_type = dict(vecs.dtypes)["doc_id"]
    sims = paired.mapInPandas(
        block_pair_topk,
        schema=f"doc_a {id_type}, doc_b {id_type}, similarity double")
    if round_to is not None:
        sims = sims.select("doc_a", "doc_b",
                           F.round("similarity", round_to)
                           .alias("similarity"))
    return sims.orderBy(F.desc("similarity"), F.asc("doc_a"),
                        F.asc("doc_b")).limit(k)


def _dense_doc_vectors(weights: DataFrame, vocab: list[str]) -> DataFrame:
    """(doc_id, vec, norm): each document's tf-idf weights as a dense
    array over the sorted ``vocab`` (0.0 where the doc lacks the
    term), with its L2 norm."""
    return (
        weights.groupBy("doc_id")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("term", "tfidf"))).alias("m"))
        .select(
            "doc_id",
            F.transform(
                F.array(*[F.lit(t) for t in vocab]),
                lambda t: F.coalesce(F.element_at("m", t), F.lit(0.0)),
            ).alias("vec"))
        .select(
            "doc_id", "vec",
            F.sqrt(F.aggregate(
                "vec", F.lit(0.0), lambda acc, x: acc + x * x))
             .alias("norm")))


# doc_similarity_topk takes the dense strategy only while the nonzero
# vocabulary and the document count are both within these bounds;
# doc_similarity_topk_ann uses dense vectors under the same vocab bound.
DENSE_VOCAB_MAX = 4096
DENSE_DOCS_MAX = 100_000


def doc_similarity_topk(corpus: DataFrame, k: int = 10,
                        round_to: int | None = None,
                        cache_key: Hashable = None) -> DataFrame:
    """Top-k most similar DOCUMENT pairs by TF-IDF cosine — the
    doc-axis dual of the reference's term-term query (terms become
    the shared join axis instead of documents).

    Two physical strategies with identical results:

    - ``sparse``: self-join on term → partial dot products → per-pair
      sum, then normalize by per-doc L2 norms. Right when vectors are
      sparse (large vocab, few shared terms): only pairs sharing a
      term materialize. Its failure mode is a dense corpus — a term
      present in most docs makes the join axis quadratic AND skewed
      (the test corpus: 31-term vocab at ~78% per-term density turns
      5k docs into ~235M pre-agg join rows, all shuffled).
    - ``dense``: when the nonzero vocab fits a literal array, build a
      dense tf-idf vector per doc, pair docs with a broadcast
      nested-loop join, and compute each dot per-row with
      zip_with/aggregate. No join-key skew, no 100M-row shuffle — the
      only wide op left is TakeOrderedAndProject's partial top-k.

    Dense is picked iff distinct nonzero terms ≤ ``DENSE_VOCAB_MAX``
    AND doc count ≤ ``DENSE_DOCS_MAX``, measured by one tiny combined
    aggregate over the persisted weight table and memoized on
    ``cache_key``. The doc bound exists because the dense path
    broadcasts the whole per-doc vector relation (n_docs × |V|
    doubles) into a nested-loop join — vocab alone doesn't cap that
    size, so past either bound the plan is the shuffle-based sparse
    join, which scales out. Exactness: all kept weights are > 0
    (tf > 0, idf > 0), so a pair shares a term iff its dot is > 0 —
    filtering dot > 0 reproduces the sparse pair set exactly."""
    # zero-weight entries (idf = 0 ⇔ term in every doc) contribute
    # nothing to any dot product or norm but ARE the hottest join
    # keys — dropping them is exact and removes the worst skew class
    weights = keyed_persist(
        "docsim_weights", cache_key,
        lambda: tfidf(corpus).filter(F.col("tfidf") != 0))
    n_terms, n_docs = keyed_value(
        "docsim_shape", cache_key,
        lambda: tuple(weights.agg(F.countDistinct("term"),
                                  F.countDistinct("doc_id")).first()))
    if n_terms <= DENSE_VOCAB_MAX and n_docs <= DENSE_DOCS_MAX:
        # persisted (replacement slot): without materialization
        # Catalyst collapses the vector-building projection INTO the
        # pair-join consumers, re-evaluating the per-doc transform/
        # map-lookup for every pair row (O(pairs·|V|) map probes
        # instead of O(docs·|V|))
        vecs = keyed_persist(
            "docsim_vecs", cache_key,
            lambda: _dense_doc_vectors(weights, sorted(
                r[0] for r in
                weights.select("term").distinct().collect())))
        return _docsim_dense_block_gemm(vecs, k, round_to)
    else:
        norms = weights.groupBy("doc_id").agg(
            F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))).alias("norm"))
        a = weights.select(F.col("doc_id").alias("doc_a"), "term",
                           F.col("tfidf").alias("va"))
        b = weights.select(F.col("doc_id").alias("doc_b"), "term",
                           F.col("tfidf").alias("vb"))
        dots = (
            a.join(b, "term")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("va") * F.col("vb")).alias("num"))
        )
        sims = (
            dots
            .join(norms.withColumnsRenamed({"doc_id": "doc_a",
                                            "norm": "na"}), "doc_a")
            .join(norms.withColumnsRenamed({"doc_id": "doc_b",
                                            "norm": "nb"}), "doc_b")
            .select("doc_a", "doc_b",
                    F.try_divide(F.col("num"),
                                 F.col("na") * F.col("nb"))
                     .alias("similarity"))
            .filter(F.col("similarity").isNotNull())
        )
    if round_to is not None:
        sims = sims.select("doc_a", "doc_b",
                           F.round("similarity", round_to)
                           .alias("similarity"))
    return sims.orderBy(F.desc("similarity"), F.asc("doc_a"),
                        F.asc("doc_b")).limit(k)


# Prime for hash->uniform conversion in the sparse sign-LSH planes:
# large enough that pmod(xxhash64)/P is dense in [0,1), small enough
# that the division is exact-ish in double.
_LSH_PRIME = 1_000_003  # retained for any external derivations
_MERSENNE31 = 2_147_483_647


def lsh_affine_constants(seed: int, n: int) -> list[tuple[int, int]]:
    """The (a_i, b_i) affine plane family shared by the Spark plan
    and the SQL oracle: ONE base hash per (row), then
    u_i = ((a_i * base + b_i) mod M31) / M31 * 2 - 1 per plane.
    Replaces the original per-(term, plane) md5 — 128 md5 calls per
    weight ROW dominated the sf0.1 wall (35.7 s in the r6 sweep);
    the affine form is 1 md5 + 128 integer mults per row, the same
    one-hash trick as operators/dedup._minhash_cols. base is reduced
    mod M31 first so a*base+b stays < 2^62 (no int64 overflow,
    identical in ANSI Spark and DuckDB BIGINT)."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
            for _ in range(n)]


def doc_vector_lsh_buckets(weights: DataFrame, n_planes: int = 8,
                           n_tables: int = 16, seed: int = 42,
                           hash_family: str = "fast") -> DataFrame:
    """(doc_id, table_id, bucket): multi-table random-hyperplane
    sign-LSH over SPARSE tf-idf document vectors (Charikar, STOC'02 —
    sign patterns of random projections; cosine-similar vectors agree
    on a plane with p = 1 − θ/π).

    Plane components are derived per (term, plane) from ONE base
    hash of the term plus a per-plane affine map
    (``lsh_affine_constants``) to uniform [-1, 1) — no materialized
    plane vectors, so the vocabulary (the vector dimensionality) can
    be unbounded, and only one hash runs per weight row regardless
    of n_tables × n_planes. ``hash_family='fast'`` bases on
    xxhash64(term, seed); ``'portable'`` on md5-low-60-bits of
    ``term:seed`` (operators/dedup.py portable_hash60) so an external
    md5-capable engine re-derives the identical plane matrix and
    buckets. Each
    projection is one SUM aggregate over the doc's weight rows: the
    whole operator is a single wide groupBy(doc_id) with
    n_tables × n_planes sum columns (constant memory per group,
    map-side partial agg), then an explode to one (doc, table)
    bucket row."""
    from project_2_semantic_similarity_spark.operators.dedup import (
        portable_hash60)

    base = (portable_hash60(F.concat(F.col("term"), F.lit(f":{seed}")))
            if hash_family == "portable"
            else F.xxhash64("term", F.lit(seed)))
    consts = lsh_affine_constants(seed, n_tables * n_planes)
    sums = []
    for t in range(n_tables):
        for p in range(n_planes):
            a, b = consts[t * n_planes + p]
            u = (F.pmod(F.lit(a) * F.col("_lsh_base") + F.lit(b),
                        F.lit(_MERSENNE31))
                 / F.lit(float(_MERSENNE31))) * 2 - 1
            sums.append(F.sum(F.col("tfidf") * u).alias(f"s_{t}_{p}"))
    projected = (
        weights.withColumn("_lsh_base",
                           F.pmod(base, F.lit(_MERSENNE31)))
        .groupBy("doc_id").agg(*sums)
    )
    tables = F.array(*[
        F.struct(
            F.lit(t).alias("table_id"),
            sum(F.when(F.col(f"s_{t}_{p}") > 0,
                       F.lit(2 ** p).cast("bigint"))
                .otherwise(F.lit(0).cast("bigint"))
                for p in range(n_planes)).alias("bucket"),
        )
        for t in range(n_tables)
    ])
    return (
        projected.select("doc_id", F.explode(tables).alias("tb"))
        .select("doc_id", "tb.table_id", "tb.bucket")
    )


def _docsim_ann_bucket_gemm(buckets: DataFrame, vecs: DataFrame,
                            k: int, round_to: int | None) -> DataFrame:
    """Dense-path re-rank as ONE gram matrix per (table, bucket)
    block with in-block top-k pruning, instead of attaching vectors
    to millions of candidate-pair rows.

    Pruning is sound without reproducing Spark's rounding in Python:
    a block keeps every pair whose RAW similarity is within
    2·10^-round_to of its k-th best — if ≥ k distinct pairs in the
    same block exceed a pair by more than that margin, each of them
    strictly beats it after 6-dp rounding too, so the pair cannot be
    in the global rounded top-k (all in-block pairs are candidates by
    construction). The same pair scored in two blocks can differ by
    BLAS-order ulps; max-per-pair collapses that before the final
    round, which absorbs the ulp (same argument as every other gemm
    engine here, and hash-verified the same way). num > 0 and
    zero-norm (try_divide -> NULL) drops applied inside the kernel,
    matching the fold plan row for row."""
    import pandas as pd

    eps = 0.0 if round_to is None else 2.0 * 10.0 ** (-round_to)

    tb = buckets.join(vecs, "doc_id")
    blocks = (
        tb.groupBy("table_id", "bucket")
        .agg(F.collect_list(
            F.struct("doc_id", "vec", "norm")).alias("blk"))
        .filter(F.size("blk") >= 2)
    )

    def block_topk(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_s = [], [], []
            for blk in pdf["blk"]:
                ids = np.array([r["doc_id"] for r in blk], dtype=object)
                m = np.array([r["vec"] for r in blk], dtype=np.float64)
                nrm = np.array([r["norm"] for r in blk],
                               dtype=np.float64)
                g = m @ m.T
                iu, ju = np.triu_indices(len(ids), 1)
                num = g[iu, ju]
                den = nrm[iu] * nrm[ju]
                keep = (num > 0) & (den > 0)
                iu, ju, num, den = iu[keep], ju[keep], num[keep], den[keep]
                sim = num / den
                fin = np.isfinite(sim)
                iu, ju, sim = iu[fin], ju[fin], sim[fin]
                if len(sim) > k:
                    thr = np.partition(sim, -k)[-k] - eps
                    sel = sim >= thr
                    iu, ju, sim = iu[sel], ju[sel], sim[sel]
                swap = ids[iu] > ids[ju]
                lo = np.where(swap, ids[ju], ids[iu])
                hi = np.where(swap, ids[iu], ids[ju])
                out_a.extend(lo)
                out_b.extend(hi)
                out_s.extend(sim)
            if out_a:
                yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b,
                                    "similarity": out_s})

    id_type = dict(vecs.dtypes)["doc_id"]
    survivors = blocks.mapInPandas(
        block_topk,
        schema=f"doc_a {id_type}, doc_b {id_type}, similarity double")
    sims = survivors.groupBy("doc_a", "doc_b").agg(
        F.max("similarity").alias("similarity"))
    if round_to is not None:
        sims = sims.select("doc_a", "doc_b",
                           F.round("similarity", round_to)
                           .alias("similarity"))
    return sims.orderBy(F.desc("similarity"), F.asc("doc_a"),
                        F.asc("doc_b")).limit(k)


def doc_similarity_topk_ann(corpus: DataFrame, k: int = 10,
                            round_to: int | None = None,
                            n_planes: int = 8,
                            n_tables: int = 16,
                            seed: int = 42,
                            cache_key: Hashable = None,
                            hash_family: str = "fast",
                            engine: str = "gemm") -> DataFrame:
    """Top-k similar document pairs via ANN prefilter + exact
    re-rank — the 100×-scale path for ``doc_similarity_topk``, whose
    two exact strategies are both quadratic in pairs (the sparse term
    self-join explodes on dense/skewed corpora; the dense variant is
    a broadcast NLJ over all n²/2 pairs).

    Shape: sign-LSH buckets over the sparse tf-idf vectors
    (``doc_vector_lsh_buckets`` — O(n) preprocessing, one wide agg)
    → candidate pairs by equi-join on (table, bucket), never a cross
    product → attach per-doc tf-idf vectors with two hash equi-joins
    → exact cosine per candidate pair computed per-row (no term-axis
    join at all) → top-k.

    Defaults (16 tables × 8 planes): a pair at cosine 0.93 (θ≈21.6°,
    per-plane agreement ≈0.88) collides in ≥1 table with
    p ≈ 1−(1−0.88⁸)¹⁶ ≈ 0.999. Approximate — candidate recall is
    probabilistic (rows-only declaration; recall vs the exact
    operator pinned in tests/test_text.py) but every returned cosine
    is exact. Pruning strength is data-dependent: corpora where
    random pairs run hot (tiny vocabularies) keep many candidates,
    realistic large-vocabulary corpora collapse to near-linear.

    Re-rank representation mirrors ``doc_similarity_topk``: when the
    nonzero vocabulary fits a literal array the per-doc vectors are
    DENSE and the dot is one numeric zip_with pass (measured ~4×
    faster per pair than string-keyed map probes at sf0.1);
    otherwise sparse map<term,weight> rows with a map-probe dot
    (O(|terms_a|) per pair, unbounded vocabulary)."""
    weights = keyed_persist(
        "docsim_ann_weights", cache_key,
        lambda: tfidf(corpus).filter(F.col("tfidf") != 0))

    buckets = doc_vector_lsh_buckets(weights, n_planes, n_tables, seed,
                                     hash_family)
    ca = buckets.select(F.col("doc_id").alias("doc_a"),
                        "table_id", "bucket")
    cb = buckets.select(F.col("doc_id").alias("doc_b"),
                        "table_id", "bucket")
    cands = (
        ca.join(cb, ["table_id", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()  # a pair may collide in several tables
    )

    # one collect is both the vocab-size measure and the vocabulary;
    # the bound is in the key because it truncates the stored list
    vocab = keyed_value(
        "docsim_ann_vocab",
        None if cache_key is None else (cache_key, DENSE_VOCAB_MAX),
        lambda: sorted(r[0] for r in weights.select("term").distinct()
                       .limit(DENSE_VOCAB_MAX + 1).collect()))
    if len(vocab) <= DENSE_VOCAB_MAX:
        # persisted (replacement slot): without materialization the
        # vector-building projection collapses into the pair-join
        # consumers and re-evaluates the map lookups once per pair
        vecs = keyed_persist(
            "docsim_ann_vecs", cache_key,
            lambda: _dense_doc_vectors(weights, vocab))
        if engine == "gemm":
            return _docsim_ann_bucket_gemm(buckets, vecs, k, round_to)
        a = vecs.select(F.col("doc_id").alias("doc_a"),
                        F.col("vec").alias("va"), F.col("norm").alias("na"))
        b = vecs.select(F.col("doc_id").alias("doc_b"),
                        F.col("vec").alias("vb"), F.col("norm").alias("nb"))
        dot = F.aggregate(
            F.zip_with("va", "vb", lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x)
    else:
        vecs = weights.groupBy("doc_id").agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "tfidf"))).alias("m"),
            F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))).alias("norm"))
        a = vecs.select(F.col("doc_id").alias("doc_a"),
                        F.col("m").alias("ma"), F.col("norm").alias("na"))
        b = vecs.select(F.col("doc_id").alias("doc_b"),
                        F.col("m").alias("mb"), F.col("norm").alias("nb"))
        dot = F.aggregate(
            F.map_entries("ma"), F.lit(0.0),
            lambda acc, e: acc + e["value"] * F.coalesce(
                F.try_element_at("mb", e["key"]), F.lit(0.0)))
    sims = (
        cands.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b", dot.alias("num"), "na", "nb")
        .filter(F.col("num") > 0)
        .select("doc_a", "doc_b",
                F.try_divide(F.col("num"), F.col("na") * F.col("nb"))
                 .alias("similarity"))
        .filter(F.col("similarity").isNotNull())
    )
    if round_to is not None:
        sims = sims.select("doc_a", "doc_b",
                           F.round("similarity", round_to)
                           .alias("similarity"))
    return sims.orderBy(F.desc("similarity"), F.asc("doc_a"),
                        F.asc("doc_b")).limit(k)


def term_similarity_pipeline(corpus: DataFrame, query: str, k: int = 5,
                             prefix: str | None = None,
                             suffix: str | None = None,
                             round_to: int | None = None,
                             cache_key: Hashable = None) -> DataFrame:
    """End-to-end flagship: corpus -> top-k terms most similar to
    `query` (the reference's whole program, app.py:115-181).

    The ``term_index`` is persisted: it is the inverted index, and
    both sides of every query's join read it — materializing it once
    and querying it many times is the standard shape at scale; the
    reference likewise computes tf-idf once (app.py:58) before its
    similarity phase. A warm query then runs two Spark jobs: the
    partition-local join with the partial per-term aggregation, and
    the final aggregation with the top-k.

    The persisted table lives in a single-entry replacement slot
    (operators/cache.py): with a ``cache_key`` identifying the corpus
    snapshot, repeated queries reuse the cached index; without one,
    each call still unpersists its predecessor — never the round-3
    leak of one cache entry per invocation."""
    index = keyed_persist(
        "term_index",
        None if cache_key is None else (cache_key, prefix, suffix),
        lambda: term_index(corpus, prefix, suffix))
    return similar_terms(index, query, k, round_to=round_to)


# ------------------------------------------------------ BPE tokenizer
#
# Subword tokenization (r8 VERDICT #6 — the one LLM-pipeline
# capability the text family lacked): a FIXED ranked merges table
# applied in rank order, exactly the public BPE inference algorithm
# (Sennrich et al. 2016; GPT-2's bpe()). Applying merges strictly in
# rank order with a full left-to-right pass per merge is equivalent
# to the rescan-for-min-rank loop: merge k's output symbol cannot
# participate in any pair of rank < k, because earlier merges are
# defined over the vocabulary that existed before k. Each pass is a
# left-fold over the symbol array — pure JVM (`aggregate` HOF), no
# Python in the hot path.
#
# The merges are hand-ranked over the corpus alphabet with
# deliberate structure: multi-level chains (t a→ta→tab→tabl→table),
# merges whose input symbols are produced mid-word by EARLIER ranks
# (d a t a: rank-1 (t,a) fires inside the word before rank-22
# (d,a)), and words no merge touches — so a rank-ordering or
# leftmost-scan bug changes counts somewhere in the corpus.

BPE_MERGES: list[tuple[str, str]] = [
    ("t", "a"), ("a", "n"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("e", "r"), ("a", "l"), ("u", "e"), ("al", "ue"), ("v", "alue"),
    ("r", "o"), ("ro", "w"), ("s", "c"), ("sc", "an"), ("i", "n"),
    ("in", "d"), ("w", "ind"), ("o", "w"), ("wind", "ow"),
    ("t", "h"), ("th", "e"), ("d", "a"), ("da", "ta"), ("e", "y"),
    ("k", "ey"), ("q", "u"), ("qu", "er"), ("quer", "y"),
    ("s", "t"), ("f", "a"), ("fa", "st"), ("b", "i"),
]


def bpe_segment(chars: "F.Column",
                merges: list[tuple[str, str]] | None = None
                ) -> "F.Column":
    """array<string> of single characters -> array<string> of BPE
    symbols, folding every merge of ``merges`` (default BPE_MERGES)
    in rank order. Each merge is one `aggregate` left-fold: append
    the next symbol unless (last == a AND next == b), in which case
    the pair fuses — leftmost-first within a pass (a freshly fused
    symbol never re-matches as `a`, so 'aaa' -> ['aa','a'] per the
    spec). One nested lambda per merge: ideal at tens of merges,
    prohibitive at thousands (use bpe_word_tokens_arrow there —
    Catalyst analysis cost is measured in SCALE.md)."""
    empty = F.expr("CAST(array() AS ARRAY<STRING>)")

    def merge_fold(a: str, b: str):
        ab = a + b

        def fold(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.lit(ab))),
            ).otherwise(F.concat(acc, F.array(x)))

        return fold

    out = chars
    for a, b in (BPE_MERGES if merges is None else merges):
        out = F.aggregate(out, empty, merge_fold(a, b))
    return out


def bpe_word_tokens(vocab: DataFrame,
                    word_col: str = "word") -> DataFrame:
    """Tokenize a DISTINCT-word relation: adds `tokens`
    (array<string>) and `n_tok`. The 100 TB contract: BPE cost is
    paid per VOCABULARY entry, not per corpus token — callers
    aggregate words first and broadcast-join this small relation
    back, so the fold over 32 merges runs on thousands of rows while
    the corpus stays untouched."""
    chars = F.filter(F.split(F.col(word_col), ""), lambda c: c != "")
    return vocab.withColumn("tokens", bpe_segment(chars)) \
                .withColumn("n_tok", F.size("tokens"))


def bpe_merges_values_sql() -> str:
    """The merges table as a SQL VALUES list (rank, pattern,
    replacement) in the space-separated single-replace encoding the
    DuckDB oracle uses — one source of truth with BPE_MERGES."""
    rows = []
    for rank, (a, b) in enumerate(BPE_MERGES, start=1):
        rows.append(f"({rank}, ' {a} {b} ', ' {a}{b} ')")
    return ", ".join(rows)


# ------------------------------------------- BPE at realistic scale
#
# The 32-merge bpe_segment fold embeds one nested lambda per merge in
# the Catalyst expression tree — ideal at tens of merges (pure JVM,
# zero Python), quadratic pain at thousands (analysis time grows with
# tree depth, and codegen splits). Real tokenizers carry 10k-100k
# merges, so the scale path applies them DATA-side: the ranked merge
# table is broadcast once and an Arrow-batched iterative applier runs
# over the (small) distinct-word vocabulary relation.
#
# Equivalence contract: on a WELL-FORMED merge table — every pair's
# constituent symbols exist (as single characters or earlier merges'
# outputs) before the pair's rank, and no two merges produce the same
# output string — the iterative lowest-rank-first algorithm below is
# provably identical to bpe_segment's rank-ordered single-pass folds:
# fusing the rank-j pair creates only adjacencies that involve the
# rank-j output symbol, and every pair involving that symbol ranks
# AFTER j (its rank is when the symbol first existed), so no earlier
# rank ever becomes newly applicable and "one pass per rank, in rank
# order" loses nothing. Trained tables are well-formed by
# construction; large_merges() enforces it for synthetic ones. The
# contract is pinned three ways: a Spark twin test (arrow applier ==
# fold on BPE_MERGES), a hypothesis property test (random words,
# 10k-merge table), and the driver oracle (rank-stepping recursive
# CTE == fold semantics) hashing the applier's corpus output.


def bpe_apply_word(word: str,
                   ranks: dict[tuple[str, str], int]) -> list[str]:
    """Iterative BPE inference (Sennrich et al. 2016 §2.2 / the
    GPT-2 reference algorithm): split to characters, repeatedly fuse
    every leftmost-first non-overlapping occurrence of the
    lowest-ranked adjacent pair present, until no pair matches. Cost
    is O(len(word)^2) scans independent of table size — the merge
    count only affects the dict, never the loop."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, (syms[i], syms[i + 1])
        if best is None:
            break
        a, b = best
        out: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_word_tokens_arrow(vocab: DataFrame,
                          merges: list[tuple[str, str]],
                          word_col: str = "word") -> DataFrame:
    """`bpe_word_tokens` for LARGE merge tables: same output schema
    (word, tokens array<string>, n_tok int), but the merges ride an
    explicit SparkContext broadcast into one Arrow `mapInPandas`
    stage instead of a Catalyst fold per merge. The 100 TB contract
    is unchanged — this runs over the DISTINCT-word vocabulary, so
    the Python cost is per vocabulary entry (with an intra-batch
    memo), never per corpus token, and the broadcast is the merge
    table (MBs at 100k merges), never data."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    bc = vocab.sparkSession.sparkContext.broadcast(ranks)

    def tokenize(batches):
        import pandas as pd

        rk = bc.value
        memo: dict[str, list[str]] = {}

        def tok(w: str) -> list[str]:
            t = memo.get(w)
            if t is None:
                t = bpe_apply_word(w, rk)
                memo[w] = t
            return t

        for pdf in batches:
            toks = [tok(w) for w in pdf[word_col]]
            yield pd.DataFrame({
                word_col: pdf[word_col],
                "tokens": toks,
                "n_tok": [len(t) for t in toks],
            })

    return vocab.select(word_col).mapInPandas(
        tokenize,
        schema=f"{word_col} string, tokens array<string>, n_tok int")


def large_merges(n: int) -> list[tuple[str, str]]:
    """Deterministic WELL-FORMED merge table of size ``n``: the 32
    hand-ranked BPE_MERGES first (so the table genuinely fires on
    the corpus), then synthetic merges drawn from a seeded PRNG over
    the growing symbol pool. Well-formedness (see module comment) is
    enforced by construction: pairs draw only symbols already in the
    pool, duplicate pairs are skipped, and a pair whose OUTPUT
    string was already produced by an earlier merge is skipped (two
    producers for one symbol would let a later merge resurrect an
    earlier rank's pair, breaking fold == iterative equivalence)."""
    import random

    rng = random.Random(0x5EED)
    merges = list(BPE_MERGES)
    pool = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    produced = set(pool)
    seen = set(merges)
    for a, b in merges:
        pool.append(a + b)
        produced.add(a + b)
    while len(merges) < n:
        a = rng.choice(pool)
        b = rng.choice(pool)
        if len(a) + len(b) > 12 or (a, b) in seen or a + b in produced:
            continue
        merges.append((a, b))
        seen.add((a, b))
        pool.append(a + b)
        produced.add(a + b)
    return merges


def merges_compact_literal(merges: list[tuple[str, str]]) -> str:
    """The merge table as one compact ``a|b;c|d;...`` literal for
    SQL embedding (rank = 1-based list position) — 10k merges fit in
    ~170 KB of oracle text instead of a 400 KB VALUES list."""
    for a, b in merges:
        if "|" in a + b or ";" in a + b or "'" in a + b:
            raise ValueError(f"merge symbols not literal-safe: {a!r},{b!r}")
    return ";".join(f"{a}|{b}" for a, b in merges)


def bpe_encode_docs(docs: DataFrame, word_ids: dict[str, list[int]],
                    unk_id: int = 1,
                    doc_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Zero-shuffle corpus encode: (doc_id, text) -> one row per
    (doc_id, pos, token_id). ``word_ids`` (the vocabulary's word ->
    subword-id sequences — the same fits-in-broadcast contract as
    the family's broadcast joins) is broadcast once; each document
    encodes inside one Arrow `mapInPandas` batch via numpy
    concatenation of per-word id arrays (no Python append loop —
    ~15M subword ids/s at 2M docs, SCALE.md). Out-of-vocabulary
    words map to ``unk_id`` (the reserved <unk> slot), the real
    tokenizer-serving behavior for text the vocabulary has never
    seen."""
    import numpy as np

    bc = docs.sparkSession.sparkContext.broadcast(word_ids)
    unk = int(unk_id)

    def encode(batches):
        import numpy as np  # noqa: F811 — worker-side import
        import pandas as pd

        wmap = {w: np.asarray(t, dtype=np.int64)
                for w, t in bc.value.items()}
        unk_arr = np.asarray([unk], dtype=np.int64)
        empty = np.empty(0, dtype=np.int64)

        def enc_one(text):
            # NULL text rows arrive as None in the Arrow batch; the
            # plan-side F.split paths tolerate nulls, so the Arrow
            # encoder must too (r10 advice): empty id sequence.
            if not isinstance(text, str):
                return empty
            arrs = [wmap.get(wd, unk_arr)
                    for wd in text.split(" ") if wd]
            return np.concatenate(arrs) if arrs else empty

        for pdf in batches:
            per_doc = [enc_one(t) for t in pdf[text_col]]
            lens = np.fromiter((a.size for a in per_doc),
                               dtype=np.int64, count=len(per_doc))
            yield pd.DataFrame({
                doc_col: np.repeat(pdf[doc_col].to_numpy(), lens),
                "pos": np.concatenate(
                    [np.arange(n) for n in lens] or [empty]),
                "token_id": np.concatenate(per_doc or [empty]),
            })

    return (docs.select(doc_col, text_col)
            .mapInPandas(encode,
                         schema=f"{doc_col} bigint, pos bigint, "
                                "token_id bigint"))


def bpe_train_rounds(words: DataFrame,
                     rounds: int) -> tuple[list[DataFrame], DataFrame]:
    """The BPE trainer loop (Sennrich et al. 2016 §3.2 learn_bpe),
    shared by text_bpe_train and the composed
    corpus_to_training_batches so the two declared stages cannot
    drift. ``words`` is the corpus word-count relation (word, cnt);
    returns (one 1-row DataFrame per learned merge — rank assigned by
    list position — and the FINAL segmentation (word, cnt, syms)),
    which IS the trained tokenized vocabulary.

    Per round: adjacent pairs via a JVM transform-over-sequence zip +
    explode, one vocabulary-sized hash agg, argmax as TakeOrdered(1)
    with the deterministic (count DESC, left, right) tie-break, the
    winner broadcast back by crossJoin, and the merge applied with
    the same `aggregate` fold as bpe_segment — parameterized by the
    winner's COLUMNS, so no Python and no driver round-trip carries
    data. localCheckpoint per round truncates lineage (expression
    trees would otherwise nest ``rounds`` folds deep). At 100 TB the
    corpus is touched ONCE (the word-count agg the caller feeds in);
    every round after that is vocabulary-sized. Rounds are inherently
    sequential — that is BPE's definition, not a plan defect."""
    empty = F.expr("CAST(array() AS ARRAY<STRING>)")
    seg = words.select(
        "word", "cnt",
        F.filter(F.split(F.col("word"), ""),
                 lambda c: c != "").alias("syms")).localCheckpoint()

    def apply_merge(syms, a, b):
        def fold(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == a) & (x == b),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.concat(a, b))),
            ).otherwise(F.concat(acc, F.array(x)))

        return F.aggregate(syms, empty, fold)

    learned: list[DataFrame] = []
    for _ in range(rounds):
        pairs = (seg.filter(F.size("syms") >= 2)
                 .select("cnt", F.explode(F.transform(
                     F.sequence(F.lit(0), F.size("syms") - 2),
                     lambda i: F.struct(
                         F.get("syms", i).alias("a"),
                         F.get("syms", i + 1).alias("b"))))
                     .alias("pair"))
                 .select("cnt", "pair.a", "pair.b"))
        best = (pairs.groupBy("a", "b")
                .agg(F.sum("cnt").alias("pair_cnt"))
                .orderBy(F.col("pair_cnt").desc(), F.col("a").asc(),
                         F.col("b").asc())
                .limit(1)).localCheckpoint()
        learned.append(best)
        seg = (seg.crossJoin(F.broadcast(
                   best.select(F.col("a").alias("m_a"),
                               F.col("b").alias("m_b"))))
               .select("word", "cnt",
                       apply_merge(F.col("syms"), F.col("m_a"),
                                   F.col("m_b")).alias("syms"))
               ).localCheckpoint()
    return learned, seg


def bpe_train_batched(words: DataFrame, n_merges: int,
                      batch: int = 32,
                      max_rounds: int | None = None
                      ) -> list[list[tuple[str, str, int]]]:
    """Parallel-BPE trainer (the standard large-scale compromise,
    cf. SentencePiece/tokenizers' batched learners): per round, take
    the top-``batch`` SYMBOL-DISJOINT pairs by count and apply them
    all, so learning 10k merges costs ~10k/batch Catalyst rounds
    instead of 10k. Returns the learned table as ROUNDS of
    [(left, right, pair_cnt)] — flatten for rank order (a plain
    list — the merge table is the SMALL artifact here, megabytes at
    100k merges; the corpus-sized work all stays in the plan). A
    round may learn fewer than ``batch`` pairs when the candidate
    list conflicts or exhausts.

    Within a round, chosen pairs share no symbol (as constituent or
    output), which makes their occurrence sets independent: applying
    one cannot create or destroy occurrences of another (fusing
    (a,b) only touches adjacencies involving a or b), so the batch
    applies in any order with identical results and each batch
    member's count is exact at selection time. SEMANTIC DIFFERENCE
    vs sequential BPE (documented, not hidden): sequential BPE
    re-counts after every single merge, so a pair involving a
    freshly created symbol (e.g. ('ab','c') right after ('a','b'))
    can outrank the batch's remaining picks — batched BPE defers
    such pairs to the next round. Batch=1 degenerates to exactly
    bpe_train_rounds (twin-pinned in tests).

    Plan per round: the same vocabulary-sized pair explode + hash
    agg as bpe_train_rounds, then TakeOrdered(4*batch) — a
    token-sized driver list from which the greedy disjoint filter
    picks (the ONLY driver-side step, bounded by 4*batch rows) —
    and one fold pass applying the batch in rank order,
    localCheckpointed."""
    empty = F.expr("CAST(array() AS ARRAY<STRING>)")
    seg = words.select(
        "word", "cnt",
        F.filter(F.split(F.col("word"), ""),
                 lambda c: c != "").alias("syms")).localCheckpoint()

    rounds: list[list[tuple[str, str, int]]] = []
    n_learned = 0
    while n_learned < n_merges and (max_rounds is None
                                    or len(rounds) < max_rounds):
        m = min(batch, n_merges - n_learned)
        pairs = (seg.filter(F.size("syms") >= 2)
                 .select("cnt", F.explode(F.transform(
                     F.sequence(F.lit(0), F.size("syms") - 2),
                     lambda i: F.struct(
                         F.get("syms", i).alias("a"),
                         F.get("syms", i + 1).alias("b"))))
                     .alias("pair"))
                 .select("cnt", "pair.a", "pair.b"))
        top = (pairs.groupBy("a", "b")
               .agg(F.sum("cnt").alias("pair_cnt"))
               .orderBy(F.col("pair_cnt").desc(), F.col("a").asc(),
                        F.col("b").asc())
               .limit(4 * batch).collect())
        chosen: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for r in top:
            if len(chosen) >= m:
                break
            a, b = r["a"], r["b"]
            if a in used or b in used or (a + b) in used:
                continue
            chosen.append((a, b, int(r["pair_cnt"])))
            used.update((a, b, a + b))
        if not chosen:
            break
        rounds.append(chosen)
        n_learned += len(chosen)
        out = bpe_segment(F.col("syms"),
                          merges=[(a, b) for a, b, _ in chosen])
        seg = seg.select("word", "cnt",
                         out.alias("syms")).localCheckpoint()
    return rounds


def bpe_encode_docs_join(docs: DataFrame, vocab: DataFrame,
                         ids: DataFrame,
                         unk_id: int = 1,
                         doc_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Corpus encode for vocabularies BEYOND driver/broadcast reach:
    same output as :func:`bpe_encode_docs` — one row per
    (doc_id, pos, token_id) — but the word -> token-sequence map
    stays a DataFrame and rides a JOIN, never a collect. ``vocab``
    is (word, tokens array<string>, n_tok); ``ids`` is
    (token, token_id) — the latter is merge-bounded (single chars +
    one symbol per learned merge), so it broadcasts at any corpus
    size, while the former is Heaps'-law-sized (10^8-10^9 distinct
    words on a 100 TB crawl) and must not.

    Plan: per-word token OFFSETS come from a per-doc running sum
    over word positions — a window PARTITIONED by doc_id (bounded by
    document length, embarrassingly parallel across docs; never the
    global single-partition trap) — then one bounded posexplode of
    each word's token list and the broadcast id-map join. Word
    positions come from posexplode BEFORE the empty-token filter;
    index gaps are harmless because positions only ORDER the running
    sum. The vocab join is left unhinted: AQE broadcasts it while it
    fits and shuffle-joins past that, which at 10^9 words is the one
    shuffle this formulation genuinely needs (regrouping corpus words
    with their token sequences). Out-of-vocabulary words map to a
    single ``unk_id`` token, matching the Arrow encoder's serving
    behavior exactly (twin-pinned hash-equal in tests)."""
    from pyspark.sql import Window

    unk = F.lit(int(unk_id)).cast("long")
    words_pos = (docs.select(
        doc_col,
        F.posexplode(F.split(F.col(text_col), " "))
         .alias("widx", "word"))
        .filter(F.col("word") != ""))
    j = (words_pos
         .join(vocab.select("word", "tokens"), "word", "left")
         # OOV = the vocab join missed — an EXPLICIT boolean, not a
         # sentinel token string (a corpus token could collide with
         # any in-band marker); the placeholder array below only
         # reserves the single <unk> output position
         .withColumn("is_oov", F.col("tokens").isNull())
         .withColumn("tokens", F.coalesce(
             F.col("tokens"), F.array(F.lit("")))))
    w = (Window.partitionBy(doc_col).orderBy("widx")
         .rowsBetween(Window.unboundedPreceding, -1))
    off = j.select(
        doc_col,
        F.coalesce(F.sum(F.size("tokens")).over(w), F.lit(0))
         .alias("o"),
        "tokens", "is_oov")
    tok = off.select(
        doc_col, "o", "is_oov",
        F.posexplode("tokens").alias("tidx", "token"))
    return (tok.join(F.broadcast(ids.select("token", "token_id")),
                     "token", "left")
            .select(F.col(doc_col),
                    (F.col("o") + F.col("tidx")).cast("long")
                     .alias("pos"),
                    F.when(F.col("is_oov"), unk)
                     .otherwise(F.coalesce(
                         F.col("token_id").cast("long"), unk))
                     .alias("token_id")))


# bpe_encode_corpus broadcasts the word -> ids map while the
# vocabulary holds at most this many words.
BPE_BROADCAST_VOCAB_MAX = 4_000_000


def bpe_encode_corpus(docs: DataFrame, vocab: DataFrame,
                      ids: DataFrame,
                      unk_id: int = 1,
                      doc_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Strategy-gated corpus encode: pick between the zero-shuffle
    Arrow encoder (:func:`bpe_encode_docs` — the word -> id-sequence
    map collected and broadcast once) and the windowed-join shape
    (:func:`bpe_encode_docs_join` — the map stays distributed) by
    the DISTINCT-WORD count. The broadcast path is strictly faster
    while the vocabulary fits driver/broadcast reach (every corpus
    word-set up to a few million entries); past that — Heaps' law
    puts a 100 TB web crawl at 10^8-10^9 distinct words — the join
    path is the only shape that works, at the cost of one per-doc
    window exchange plus the AQE-decided vocab join.

    The gate is ``cache.gate`` on the vocab against
    ``BPE_BROADCAST_VOCAB_MAX`` (callers localCheckpoint the vocab,
    so the LIMIT-bounded count is a cheap materialized scan). Both
    paths are hash-equal on any corpus, including OOV -> ``unk_id``
    serving behavior (twin-pinned in tests/test_text.py)."""
    if not gate("bpe_encode_vocab_rows", None, vocab,
                BPE_BROADCAST_VOCAB_MAX):
        return bpe_encode_docs_join(docs, vocab, ids, unk_id=unk_id,
                                    doc_col=doc_col, text_col=text_col)
    id_of = {r["token"]: r["token_id"] for r in
             ids.select("token", "token_id").collect()}
    unk = int(unk_id)
    word_ids = {r["word"]: [id_of.get(t, unk) for t in r["tokens"]]
                for r in vocab.select("word", "tokens").collect()}
    return bpe_encode_docs(docs, word_ids, unk_id=unk,
                           doc_col=doc_col, text_col=text_col)


def gpt2_byte_unicode() -> dict[int, str]:
    """The GPT-2 byte-to-unicode table (Radford et al. 2019,
    encoder.py bytes_to_unicode — public): an INJECTIVE map from
    every byte 0-255 to a printable unicode codepoint. Printable
    bytes (33-126, 161-172, 174-255) map to themselves; the 68
    others (controls, space, DEL, NBSP range, soft hyphen) map to
    256+n in byte order. Byte-level BPE runs the ordinary char-level
    machinery on the MAPPED string — one char per UTF-8 byte — so
    no input ever needs an <unk>: every byte is in the base
    alphabet. Single source of truth for the Spark map literal, the
    deterministic id scheme, and the tests' expectations."""
    printable = list(range(33, 127)) + list(range(161, 173)) \
        + list(range(174, 256))
    out: dict[int, str] = {b: chr(b) for b in printable}
    n = 0
    for b in range(256):
        if b not in out:
            out[b] = chr(256 + n)
            n += 1
    return out


def byte_unicode_word(w: "F.Column") -> "F.Column":
    """string column -> its GPT-2 byte-to-unicode mapped form: one
    printable unicode CHAR per UTF-8 BYTE (hex-decode the encoded
    word two nibbles at a time, map through a constant 256-entry map
    literal). The byte-level segmentation seed is then just the char
    split of the mapped string, so bpe_segment / bpe_train_rounds /
    bpe_encode_corpus run UNCHANGED on the byte alphabet. Pure JVM
    expressions — no Python in the mapping path. (Spark's chr()/
    char() wrap codepoints mod 256, hence the map literal instead of
    a codepoint formula.)"""
    table = gpt2_byte_unicode()
    m = F.create_map(*[x for b in range(256)
                       for x in (F.lit(b), F.lit(table[b]))])
    h = F.hex(F.encode(w, "UTF-8"))
    n = (F.length(h) / 2).cast("int")
    return F.when(F.length(w) == 0, F.lit("")).otherwise(
        F.concat_ws("", F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.element_at(m, F.conv(
                F.substring(h, i * 2 - 1, F.lit(2)), 16, 10)
                .cast("int")))))


def byte_unicode_docs(docs: DataFrame,
                      text_col: str = "text") -> DataFrame:
    """Map every space-separated word of ``text_col`` through the
    byte-to-unicode table, preserving single-space word boundaries
    (empty words are dropped, exactly as every downstream word
    explode drops them). A narrow zero-shuffle projection — the one
    extra step that turns the whole char-level tokenizer pipeline
    into its byte-level twin."""
    mapped = F.concat_ws(" ", F.transform(
        F.filter(F.split(F.col(text_col), " "),
                 lambda x: x != ""),
        byte_unicode_word))
    return docs.withColumn(text_col, mapped)


def byte_symbol_to_byte(token: "F.Column") -> "F.Column":
    """Inverse of the byte-to-unicode map for a SINGLE mapped char:
    codepoint (Spark ascii() returns the full first-char codepoint)
    -> original byte value. Closed-form because the table is three
    contiguous runs: identity (printables), 256..288 -> 0..32,
    289..322 -> 127..160, 323 -> 173. Pinned char-by-char against
    gpt2_byte_unicode() in tests."""
    cp = F.ascii(token)
    return (F.when(cp <= 255, cp)
             .when(cp <= 288, cp - 256)
             .when(cp <= 322, cp - 289 + 127)
             .otherwise(F.lit(173)))


def byte_bpe_ids(spark, merges: list[tuple[str, str]] | None = None,
                 n_specials: int = 4) -> DataFrame:
    """The DETERMINISTIC byte-level id table — the GPT-2 vocabulary
    concept: every base byte symbol gets id n_specials + byte value
    (256 rows, present whether or not the corpus ever produced the
    byte), and every merge output gets id n_specials + 256 + rank-1.
    Any byte-level segmentation consists only of base symbols and
    merge outputs, so the id join can NEVER miss — <unk> is
    unreachable by construction, the property byte-level BPE exists
    to provide. No corpus dependence, no rank machinery: the table
    is a 288-row literal."""
    table = gpt2_byte_unicode()
    ms = BPE_MERGES if merges is None else merges
    rows = [(table[b], n_specials + b) for b in range(256)]
    rows += [(a + b, n_specials + 256 + r)
             for r, (a, b) in enumerate(ms)]
    return local_frame(spark, rows, "token string, token_id long")


def byte_unicode_docs_marked(docs: DataFrame,
                             text_col: str = "text") -> DataFrame:
    """:func:`byte_unicode_docs` with the GPT-2 SPACE MARKER: every
    word after the first carries a leading mapped-space symbol
    ('Ġ' = chr(288), the byte-32 image), exactly how production
    byte-level tokenizers keep whitespace IN the token stream
    (Radford et al. 2019 pre-tokenization keeps the leading space on
    each word). With the marker present, the flat encoded id stream
    is fully invertible: decode = concat tokens, inverse-map each
    char to its byte, UTF-8 decode — spaces come back because they
    were never dropped. Same narrow zero-shuffle projection; the
    marker rides the index-aware `transform` lambda."""
    marker = gpt2_byte_unicode()[32]
    mapped = F.concat_ws(" ", F.transform(
        F.filter(F.split(F.col(text_col), " "),
                 lambda x: x != ""),
        lambda w, i: F.when(i == 0, byte_unicode_word(w))
                      .otherwise(F.concat(F.lit(marker),
                                          byte_unicode_word(w)))))
    return docs.withColumn(text_col, mapped)


def bpe_decode_ids(stream: DataFrame, ids: DataFrame,
                   doc_col: str = "doc_id") -> DataFrame:
    """DECODE — the inverse of the byte-level corpus encode: the
    flat (doc_id, pos, token_id) stream back to one text row per
    document, (doc_id, decoded_text, n_ids). Pure JVM expressions
    end to end (no Python in the decode path):

      id -> token symbol via the merge-bounded ``ids`` table (288 +
      |merges| rows at ANY corpus size — a legal broadcast, unlike
      the Heaps'-law word relation), then ONE hash aggregation by
      doc_id collecting (pos, token) structs, array_sort for stream
      order (bounded by document length — never a global sort),
      concat, inverse byte map per char (byte_symbol_to_byte's
      closed form), hex -> unhex -> UTF-8 decode.

    One shuffle total (the per-doc agg); collect_list is bounded by
    a single document's token count, the same per-doc bound every
    window/pack step in the family already carries."""
    tok = stream.join(F.broadcast(ids.select("token", "token_id")),
                      "token_id")
    per_doc = tok.groupBy(doc_col).agg(
        F.array_sort(F.collect_list(F.struct("pos", "token")))
         .alias("st"),
        F.count("*").cast("long").alias("n_ids"))
    joined = F.concat_ws(
        "", F.transform(F.col("st"), lambda s: s["token"]))
    chars = F.filter(F.split(joined, ""), lambda c: c != "")
    hexs = F.concat_ws("", F.transform(
        chars,
        lambda c: F.lpad(F.conv(byte_symbol_to_byte(c).cast("string"),
                                10, 16), 2, "0")))
    return per_doc.select(
        doc_col,
        F.decode(F.unhex(hexs), "UTF-8").alias("decoded_text"),
        "n_ids")


def wordpiece_merge_outputs(
        merges: list[tuple[str, str]] | None = None) -> list[str]:
    """The greedy matcher's token inventory: every merge OUTPUT
    string, longest first (ties lexicographic — unreachable, two
    same-length matches at one position would be the same string;
    kept for a stable literal). Single chars are an IMPLICIT
    fallback, so the inventory is merge-bounded and corpus-free —
    the same property that makes byte_bpe_ids a literal."""
    ms = BPE_MERGES if merges is None else merges
    return sorted({a + b for a, b in ms}, key=lambda t: (-len(t), t))


def wordpiece_apply_word(w: str, outs: list[str]) -> list[str]:
    """Greedy longest-match-first segmentation of one word — the
    WordPiece/SentencePiece INFERENCE algorithm (Devlin et al. 2019
    §4.1 tokenization; public). ``outs`` must be longest-first
    (:func:`wordpiece_merge_outputs`); any position with no
    multi-char match falls back to the single char, so segmentation
    never fails and never needs <unk>."""
    out: list[str] = []
    i, n = 0, len(w)
    while i < n:
        for t in outs:
            if w.startswith(t, i):
                out.append(t)
                i += len(t)
                break
        else:
            out.append(w[i])
            i += 1
    return out


def wordpiece_word_tokens(vocab: DataFrame,
                          merges: list[tuple[str, str]] | None = None,
                          word_col: str = "word") -> DataFrame:
    """Greedy longest-match tokenization of a DISTINCT-word relation
    — same output schema as :func:`bpe_word_tokens` (word, tokens,
    n_tok) so the corpus join-back machinery is shared verbatim.
    Arrow `mapInPandas` with an intra-batch memo, the
    :func:`bpe_word_tokens_arrow` contract: Python cost per
    VOCABULARY entry, never per corpus token; the broadcast is the
    merge-output list (KBs), never data. Greedy longest-match is a
    DIFFERENT algorithm than rank-ordered merge application — the
    two demonstrably split some words differently (pinned in
    tests) — and is what BERT-family tokenizers run at inference."""
    outs = wordpiece_merge_outputs(merges)
    bc = vocab.sparkSession.sparkContext.broadcast(outs)

    def tokenize(batches):
        import pandas as pd

        ts = bc.value
        memo: dict[str, list[str]] = {}

        def tok(w: str) -> list[str]:
            t = memo.get(w)
            if t is None:
                t = wordpiece_apply_word(w, ts)
                memo[w] = t
            return t

        for pdf in batches:
            toks = [tok(w) for w in pdf[word_col]]
            yield pd.DataFrame({
                word_col: pdf[word_col],
                "tokens": toks,
                "n_tok": [len(t) for t in toks],
            })

    return vocab.select(word_col).mapInPandas(
        tokenize,
        schema=f"{word_col} string, tokens array<string>, n_tok int")


# ------------------------------------------- Unigram-LM tokenization
#
# The THIRD subword algorithm family (Kudo 2018, SentencePiece):
# segmentation chosen by a unigram language model — min total piece
# cost, not merge order (BPE) or greedy surface length (WordPiece).
# Costs here are INTEGER micro-nats (-floor(1e6·ln p)), which makes
# the DP's comparisons exact in both engines: float score ties can
# never flip between Spark and a SQL oracle because there are no
# float scores. Ties are broken by (total cost, token count,
# separator-joined path string) — a total order both engines can
# evaluate identically (the path strings of two distinct states at
# one DP position have equal length when cost and count tie, so the
# lexicographic compare is decided inside the shared prefix and is
# stable under appending a common suffix: prefix-optimality holds
# and plain left-to-right DP is exact).


def unigram_viterbi_word(w: str, costs: dict[str, int],
                         unk_cost: int) -> tuple[list[str], int]:
    """Min-cost segmentation of one word under integer piece costs
    with a single-char fallback at ``unk_cost`` for characters
    outside the piece inventory. Returns (tokens, total_cost)."""
    n = len(w)
    max_len = max((len(p) for p in costs), default=1)
    best: list[tuple[int, int, str] | None] = [None] * (n + 1)
    best[0] = (0, 0, "")
    for i in range(n):
        st = best[i]
        if st is None:
            continue
        c0, k0, p0 = st
        hi = min(max_len, n - i)
        for ln in range(1, hi + 1):
            piece = w[i:i + ln]
            c = costs.get(piece)
            if c is None:
                if ln != 1:
                    continue
                c = unk_cost
            cand = (c0 + c, k0 + 1, p0 + "\x1f" + piece)
            j = i + ln
            if best[j] is None or cand < best[j]:
                best[j] = cand
    cost, _k, path = best[n]  # type: ignore[misc]
    return path.split("\x1f")[1:], cost


def unigram_word_tokens(vocab: DataFrame, costs: dict[str, int],
                        unk_cost: int,
                        word_col: str = "word") -> DataFrame:
    """Viterbi-tokenize a DISTINCT-word relation under broadcast
    integer piece costs — the bpe_word_tokens_arrow contract (Python
    cost per VOCABULARY entry, never per corpus token; broadcast
    payload is the piece-cost dict, merge-bounded + alphabet-bounded,
    KBs). Output schema (word, tokens, n_tok, w_cost) so the corpus
    join-back machinery is shared with the BPE/WordPiece appliers."""
    bc = vocab.sparkSession.sparkContext.broadcast((costs, unk_cost))

    def tokenize(batches):
        import pandas as pd

        cs, cu = bc.value
        memo: dict[str, tuple[list[str], int]] = {}

        def tok(w: str) -> tuple[list[str], int]:
            t = memo.get(w)
            if t is None:
                t = unigram_viterbi_word(w, cs, cu)
                memo[w] = t
            return t

        for pdf in batches:
            segs = [tok(w) for w in pdf[word_col]]
            yield pd.DataFrame({
                word_col: pdf[word_col],
                "tokens": [s[0] for s in segs],
                "n_tok": [len(s[0]) for s in segs],
                "w_cost": [s[1] for s in segs],
            })

    return vocab.select(word_col).mapInPandas(
        tokenize,
        schema=(f"{word_col} string, tokens array<string>, "
                "n_tok int, w_cost long"))
