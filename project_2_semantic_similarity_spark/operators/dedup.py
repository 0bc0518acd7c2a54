"""Deduplication operators for large-scale training-data pipelines:
exact (hash), exact n-gram Jaccard, MinHash+LSH near-dup, SimHash.

Scale design (the 100 TB story):
- exact_dedup is one hash-partitioned window — the sha256 key
  distributes uniformly, no skew.
- jaccard_pairs joins on shingles; hot shingles (stopword n-grams)
  fan out quadratically, so it is the *verification* stage for
  small candidate sets, not the discovery stage.
- minhash_lsh is the discovery stage: O(n) signatures, candidates
  only within equal (band, band_hash) buckets — the standard
  shingle→minhash→band→bucket-join pipeline (Broder 1997; same
  scheme as Spark's ml.feature.MinHashLSH, hand-rolled here so the
  hash family is explicit, seeded, and pure DataFrame ops).
- simhash is one pass + a 63-bit key; near-dup pairs via bit_count of
  xor on bucket-joined candidates.

All hash functions are JVM built-ins — fixed seeds, deterministic
across runs and partitionings. Two families:

- ``fast`` (default): xxhash64 — cheapest per byte, engine-specific
  bit pattern (not reproducible outside Spark).
- ``portable``: the low 60 bits of md5, extracted as
  ``conv(substr(md5(s), 1, 15), 16, 10)``. Any engine with md5 and
  hex-parse computes the identical integer (DuckDB:
  ``('0x' || substr(md5(s), 1, 15))::BIGINT``), which makes the
  whole minhash/simhash pipeline cross-engine auditable — a real
  property for training-data dedup, where a keep/drop decision may
  need to be re-derived years later in a different engine. Costs one
  md5 per distinct shingle/term instead of one xxhash64 (~3× the
  hash time, a small slice of the operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: big enough for minhash dispersion, small
# enough that a_i * h never overflows int64 (ANSI mode would throw).
_MERSENNE31 = 2_147_483_647


def portable_hash60(col):
    """Leading 15 hex chars (the HIGH 60 bits) of md5(col) as a
    non-negative BIGINT, computed so that any md5-capable engine
    reproduces it bit-for-bit (DuckDB:
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``). 15 hex chars = 60
    bits, so the value is always positive and overflow-free."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def normalize_text(col):
    """Canonical text form for hashing: lowercase, collapsed
    whitespace, trimmed."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def canonical_url(col):
    """URL canonicalization for source-level dedup of a web crawl —
    the same page is typically fetched under many spellings. Applied
    transforms (each a standard crawl-dedup rule):

      1. drop the fragment (``#...`` never reaches the server);
      2. drop ``utm_*`` tracking params, preserving all others
         (two regexp passes: a leading run of ``?utm_x&...``
         keeps the ``?`` for the next real param, then any remaining
         ``[?&]utm_x``);
      3. lowercase the scheme+authority (case-insensitive per RFC
         3986) and strip the scheme's OWN default port only
         (``:80`` for http, ``:443`` for https — an explicit
         ``http://host:443`` is a different origin and is kept) —
         path/query case is PRESERVED (significant on most servers);
      4. strip one trailing slash.

    Pure JVM regexp/string Columns — narrow, codegen'd, no Python in
    the row path; an oracle reproduces it with the same regexes."""
    u = F.regexp_replace(col, "#.*$", "")
    u = F.regexp_replace(u, r"\?(utm_[^&#]*&)+", "?")
    u = F.regexp_replace(u, r"[?&]utm_[^&#]*", "")
    auth = F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    rest = u.substr(F.length(auth) + F.lit(1),
                    F.length(u) - F.length(auth))
    low = F.lower(auth)
    low = F.regexp_replace(low, "^(http://.*):80$", "$1")
    low = F.regexp_replace(low, "^(https://.*):443$", "$1")
    return F.concat(low, F.regexp_replace(rest, "/$", ""))


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct normalized text (lowest id wins —
    deterministic tie-break). Adds the content hash and the group
    size so callers can inspect what was collapsed."""
    hashed = docs.withColumn(
        "content_hash", F.sha2(normalize_text(F.col(text_col)), 256))
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (
        hashed
        .withColumn("rn", F.row_number().over(w))
        .withColumn("group_size",
                    F.count("*").over(Window.partitionBy("content_hash")))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def incremental_dedup(batch: DataFrame, corpus: DataFrame,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Novel documents in ``batch`` relative to an existing
    ``corpus``: drop batch docs whose normalized-content hash already
    exists in the corpus (LEFT ANTI join), then collapse duplicates
    WITHIN the batch (lowest id wins) — the continuous-ingest dedup
    pass a training pipeline runs on every new crawl drop.

    Scale shape: the corpus side reduces to its distinct 32-byte
    hashes before the join, so at 100 TB the anti-join streams the
    (much smaller) hash set, keys are uniformly distributed (sha256 —
    no skew), and both the anti-join and the intra-batch window
    shuffle on the same content_hash key, which AQE coalesces into
    one exchange reuse. Nothing touches the corpus text twice."""
    bh = batch.withColumn(
        "content_hash", F.sha2(normalize_text(F.col(text_col)), 256))
    seen = (corpus
            .select(F.sha2(normalize_text(F.col(text_col)), 256)
                    .alias("content_hash"))
            .distinct())
    novel = bh.join(seen, "content_hash", "left_anti")
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (novel
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn"))


def shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct n-token shingles per document: (id, shingle).

    Built array-side with higher-order functions (split → transform/
    slice → explode), so the only shuffle in the whole operator is the
    final distinct. The explode+window(lead) alternative shuffles and
    sorts the entire token stream by (doc_id, pos) first — at corpus
    scale that is a full extra pass over every token."""
    # Materialize the token array as its own projection first: a
    # lambda body referencing the raw split(...) expression would
    # re-evaluate the split per shingle position (O(tokens^2)/doc).
    with_toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_remove(F.split(F.col(text_col), r"\s+"), "").alias("toks"),
    )
    toks = F.col("toks")
    shingle_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        with_toks.select("doc_id", F.explode(shingle_arr).alias("shingle"))
        .distinct()
    )


def decontaminate(train: DataFrame, eval_set: DataFrame, n: int = 5,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: drop every training document that
    shares AT LEAST ONE n-token shingle with the evaluation set —
    the standard n-gram-overlap contamination rule LLM pipelines run
    before training (an eval answer appearing verbatim in training
    data invalidates the benchmark).

    Scale shape: the eval side is benchmark suites — megabytes, not
    terabytes — so its distinct shingle set BROADCASTS and the
    training corpus is scanned exactly once with a broadcast
    left-semi probe (no shuffle of the corpus at all); the survivors
    anti-join on doc id. Returns the surviving training rows."""
    ev_sh = (shingles(eval_set, n, text_col, id_col)
             .select("shingle").distinct())
    tr_sh = shingles(train, n, text_col, id_col)
    contaminated = (
        tr_sh.join(F.broadcast(ev_sh), "shingle", "left_semi")
        .select("doc_id").distinct()
        .withColumnRenamed("doc_id", id_col)
    )
    return train.join(contaminated, id_col, "left_anti")


def jaccard_pairs(shingled: DataFrame, min_jaccard: float) -> DataFrame:
    """Exact shingle-set Jaccard for every co-shingled pair:
    |A∩B| / (|A| + |B| - |A∩B|), pairs with doc_a < doc_b.

    The self-join on shingle only materializes pairs that share at
    least one shingle — already far sparser than n² — but hot
    shingles still fan out; at scale run this on LSH candidates
    (see minhash_lsh), not the full corpus."""
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter
        .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "sz_a"}),
              "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "sz_b"}),
              "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("n_inter")
             / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
             ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def containment_pairs(shingled: DataFrame,
                      min_containment: float) -> DataFrame:
    """Directional shingle containment per co-shingled pair:
    c(A→B) = |A∩B| / |A| — the asymmetric near-dup signal Jaccard
    dilutes: a short doc quoted wholesale inside a long one has
    c(short→long) ≈ 1 while Jaccard ≈ |short|/|long| ≈ 0 (quote /
    boilerplate / subset-document detection in a crawl corpus).

    One row per unordered pair (doc_a < doc_b) carrying BOTH
    directions, kept when either clears the threshold. Identical
    join/agg skeleton as jaccard_pairs — shared-shingle equi-join,
    partial+final count agg — so the same scale rule applies: run on
    LSH candidates at corpus scale, not all co-shingled pairs."""
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter
        .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "sz_a"}),
              "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "sz_b"}),
              "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("n_inter") / F.col("sz_a")).alias("c_a_in_b"),
            (F.col("n_inter") / F.col("sz_b")).alias("c_b_in_a"),
        )
        .filter((F.col("c_a_in_b") >= min_containment)
                | (F.col("c_b_in_a") >= min_containment))
    )


def _minhash_cols(num_hashes: int, seed: int) -> list:
    """Deterministic affine hash family over a pre-materialized
    ``base`` column (= xxhash64(shingle) mod P):
    h_i(s) = (a_i * base + b_i) mod P. The caller projects ``base``
    first — referencing the raw xxhash64 expression here would embed
    it in all k hash expressions and multiply the plan size."""
    import random

    rng = random.Random(seed)
    cols = []
    for i in range(num_hashes):
        a = rng.randrange(1, _MERSENNE31)
        b = rng.randrange(0, _MERSENNE31)
        cols.append(
            F.pmod(F.lit(a) * F.col("base") + F.lit(b),
                   F.lit(_MERSENNE31)).alias(f"mh{i}"))
    return cols


# collect_list of int64 base hashes: 65k shingles/doc ≈ 0.5 MB per
# aggregation group — far below any partition-memory concern, while
# docs longer than this are exactly where the narrow variant's
# per-group array stops being "obviously tiny".
NARROW_MAX_SHINGLES_PER_DOC = 65_536


def probe_minhash_variant(docs: DataFrame, text_col: str = "text") -> str:
    """The ``minhash_signatures`` variant for a docs→shingles
    pipeline: ``narrow`` when every document's distinct-shingle
    count fits ``NARROW_MAX_SHINGLES_PER_DOC``, else ``wide``.
    Distinct shingles/doc is bounded by token positions (tokens − n
    + 1 < tokens), so max tokens/doc — one narrow scan aggregate, no
    groupBy shuffle of the exploded shingle relation — decides the
    variant conservatively (may pick wide when narrow would still
    fit; never the unsafe direction)."""
    longest = docs.agg(F.max(F.size(F.array_remove(
        F.split(F.col(text_col), r"\s+"), ""))).alias("mx")) \
        .collect()[0].mx
    return ("narrow" if (longest or 0) <= NARROW_MAX_SHINGLES_PER_DOC
            else "wide")


def minhash_signatures(shingled: DataFrame, num_hashes: int = 64,
                       seed: int = 42, *,
                       variant: str,
                       hash_family: str = "fast") -> DataFrame:
    """(doc_id, sig array<bigint>[k]): min of each affine hash over
    the document's shingle set, packed into one array column so
    downstream plans (banding, signature comparison) stay small.

    ``narrow``: collect the per-doc base hashes into an
    array, then compute all k minima inside ONE transform/array_min
    expression. The whole stage is three narrow columns — codegen is
    tiny (the k-column min-aggregate's generated class dominated
    first-run wall: 13s vs 4s at 5k docs). Order-insensitive: min
    over the same multiset regardless of collect_list order. Memory
    is O(shingles/doc) per group, fine for bounded docs (training
    shards cap doc length anyway).

    ``wide``: k separate min-aggregate columns — constant memory per
    group, streams through the aggregator. Use for unbounded
    documents where a per-doc array could blow a partition.

    Callers pass the variant ``probe_minhash_variant`` picked — the
    narrow plan's codegen win where it is safe, the wide plan's
    bounded group memory where it is not. Both variants produce
    bit-identical signatures (pinned in tests/test_dedup_knn.py).

    ``hash_family``: ``fast`` (xxhash64 base) or ``portable``
    (md5-low-60-bits base, reproducible in any md5-capable engine —
    see module docstring). Same affine family over the base either
    way, so the two families differ only in the base hash."""
    base_expr = (portable_hash60(F.col("shingle"))
                 if hash_family == "portable"
                 else F.xxhash64("shingle"))
    based = shingled.select(
        "doc_id",
        F.pmod(base_expr, F.lit(_MERSENNE31)).alias("base"))
    if variant == "narrow":
        import random

        rng = random.Random(seed)
        params = F.array(*[
            F.struct(F.lit(rng.randrange(1, _MERSENNE31)).alias("a"),
                     F.lit(rng.randrange(0, _MERSENNE31)).alias("b"))
            for _ in range(num_hashes)])
        per_doc = based.groupBy("doc_id").agg(
            F.collect_list("base").alias("bases"))
        return per_doc.select(
            "doc_id",
            F.transform(params, lambda p: F.array_min(
                F.transform("bases",
                            lambda b: F.pmod(p["a"] * b + p["b"],
                                             F.lit(_MERSENNE31))))
            ).alias("sig"))
    hashed = based.select("doc_id", *_minhash_cols(num_hashes, seed))
    agged = hashed.groupBy("doc_id").agg(
        *[F.min(f"mh{i}").alias(f"mh{i}") for i in range(num_hashes)])
    return agged.select(
        "doc_id",
        F.array(*[f"mh{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_candidates(signatures: DataFrame, num_hashes: int = 64,
                           bands: int = 16) -> DataFrame:
    """Banding: docs agreeing on ALL rows of any band become a
    candidate pair. Join key is (band_idx, band_hash) so candidate
    generation is an equi-join, never a cross product."""
    rows = num_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(i).alias("band_idx"),
            F.xxhash64(F.slice("sig", i * rows + 1, rows))
             .alias("band_hash"),
        )
        for i in range(bands)
    ])
    buckets = (
        signatures.select("doc_id", F.explode(band_structs).alias("b"))
        .select("doc_id", "b.band_idx", "b.band_hash")
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_estimated_jaccard(signatures: DataFrame,
                              candidates: DataFrame,
                              num_hashes: int = 64,
                              verify_bands: int | None = None) -> DataFrame:
    """Estimate J(a,b) as the fraction of agreeing minhashes — one
    zip_with/aggregate expression over the signature arrays.

    ``verify_bands``: when set, keep only pairs where at least one of
    that many bands agrees on ALL its rows, re-checked on the raw
    signature arrays. The LSH bucket join then becomes a purely
    *physical* discovery mechanism: a band-hash collision (two
    different slices hashing alike) can never leak a false candidate
    into the output, so the result is exactly "pairs with a fully
    agreeing band" — a deterministic, engine-independent predicate an
    external oracle can re-derive."""
    sig_a = signatures.select(F.col("doc_id").alias("doc_a"),
                              F.col("sig").alias("sig_a"))
    sig_b = signatures.select(F.col("doc_id").alias("doc_b"),
                              F.col("sig").alias("sig_b"))
    matches = F.zip_with("sig_a", "sig_b",
                         lambda x, y: (x == y).cast("int"))
    joined = (candidates.join(sig_a, "doc_a").join(sig_b, "doc_b")
              .withColumn("m", matches))
    if verify_bands:
        rows = num_hashes // verify_bands
        band_ok = F.exists(
            F.sequence(F.lit(0), F.lit(verify_bands - 1)),
            lambda i: F.aggregate(
                F.slice("m", i * rows + 1, rows),
                F.lit(0), lambda acc, x: acc + x) == rows)
        joined = joined.filter(band_ok)
    return joined.select(
        "doc_a", "doc_b",
        (F.aggregate("m", F.lit(0), lambda acc, x: acc + x)
         / F.lit(num_hashes)).alias("est_jaccard"))


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id", bits: int = 63,
            hash_family: str = "fast") -> DataFrame:
    """SimHash per document (Charikar 2002): for each bit position,
    sum tf-weighted ±1 votes from hash(term); the sign pattern packs
    into one BIGINT (≤63 bits keeps it positive — no int64 sign
    games). One tokenize + one aggregation.

    ``hash_family='portable'`` votes from the md5-low-60-bits term
    hash (``portable_hash60`` — identical in any md5-capable engine),
    capping ``bits`` at 60; ``fast`` (default) votes from xxhash64."""
    from project_2_semantic_similarity_spark.operators.text import (
        term_counts, tokenize)

    if hash_family == "portable" and bits > 60:
        raise ValueError("portable family exposes 60 hash bits")
    counts = term_counts(tokenize(
        docs.select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("text"))))
    h = (portable_hash60(F.col("term")) if hash_family == "portable"
         else F.xxhash64("term"))
    # hoist the term hash into ONE materialized column: embedding `h`
    # in all `bits` vote expressions would re-run the md5 per row per
    # bit unless codegen CSE happens to save it (the same per-row ×
    # per-plane multiplication the LSH planes had before r6)
    hashed = counts.withColumn("_th", h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_th"), j)
                    .bitwiseAND(F.lit(1)) == 1,
                   F.col("tf_count")).otherwise(-F.col("tf_count"))
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    voted = hashed.groupBy("doc_id").agg(*votes)
    packed = sum(
        F.when(F.col(f"v{j}") > 0, F.lit(2 ** j).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        for j in range(bits)
    )
    return voted.select("doc_id", packed.alias("simhash"))


def simhash_near_pairs(hashes: DataFrame, max_hamming: int = 8,
                       bits: int = 63) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming, with EXACT recall.

    Blocking splits the ``bits``-bit fingerprint into ``max_hamming+1``
    near-equal chunks and equi-joins on (chunk_idx, chunk): d bit flips
    can touch at most d chunks, so any pair within distance d agrees
    exactly on ≥1 of the d+1 chunks (pigeonhole).  Candidates are then
    verified with bit_count(xor).

    Scale note: chunk width is bits // (d+1) (7 bits for the default
    d=8 on 63 bits), so bucket selectivity drops as the radius grows —
    at very large corpora prefer a smaller radius or a Manku-style
    multi-block-combination join (Manku, Jain, Sarma, WWW'07); the
    d+1-block scheme here is the exact-recall baseline."""
    n_chunks = min(max_hamming + 1, bits)
    base, rem = divmod(bits, n_chunks)
    chunks, offset = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < rem else 0)
        chunks.append(
            F.struct(F.lit(i).alias("chunk_idx"),
                     F.shiftright("simhash", offset)
                     .bitwiseAND(F.lit((1 << width) - 1)).alias("chunk")))
        offset += width
    chunked = hashes.select(
        "doc_id", "simhash", F.explode(F.array(*chunks)).alias("c"),
    ).select("doc_id", "simhash", "c.chunk_idx", "c.chunk")
    a, b = chunked.alias("a"), chunked.alias("b")
    cands = (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("a.simhash").alias("sh_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("b.simhash").alias("sh_b"))
        .distinct()
    )
    return (
        cands
        .withColumn("hamming",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def jaccard_on_pairs(pairs: DataFrame, shingled: DataFrame) -> DataFrame:
    """EXACT shingle Jaccard computed only for the given candidate
    pairs ``(doc_a, doc_b)`` — the verification half of the
    discover/verify contract (jaccard_pairs' docstring says "at
    scale run this on LSH candidates"; this is that operator).

    Volume is candidates × shingles-per-doc, LINEAR in the candidate
    count: the pair relation joins each side's shingle set by doc id
    (plus shingle equality on the second hop, so only intersection
    rows survive the join). Pairs sharing zero shingles simply drop
    out — their Jaccard is 0 and no dedup threshold keeps them."""
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingled.select(F.col("doc_id").alias("doc_a"),
                        F.col("shingle").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("doc_b"),
                        F.col("shingle").alias("sh_b"))
    inter = (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b.withColumnRenamed("doc_b", "__b"),
              (F.col("doc_b") == F.col("__b"))
              & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter
        .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "sz": "sz_a"}),
              "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "sz": "sz_b"}),
              "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("n_inter")
             / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
             ).alias("jaccard"),
        )
    )


def cdc_chunks(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", gram: int = 8,
               mod: int = 64) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary idea
    behind Rabin/Gear chunkers, stateless variant): a chunk boundary
    falls after position i whenever the portable md5 of the trailing
    ``gram``-char window ≡ 0 (mod ``mod``), giving chunks of
    expected length ``mod`` whose boundaries MOVE WITH THE CONTENT —
    an insertion early in a document shifts byte offsets but not the
    downstream boundaries, so unchanged tails keep identical chunk
    fingerprints. That is the property fixed-size chunking lacks and
    the reason storage/training dedup pipelines chunk this way.

    Stateless by design: every boundary is decided from its own
    window alone (no min/max-length clamp, which would need a
    sequential scan state); this keeps the operator embarrassingly
    parallel AND lets any md5-capable engine reproduce the exact
    chunking.

    Scale shape: candidate positions explode ×len per doc but stay
    NARROW (window substring + hash + filter in one codegen'd
    projection; nothing shuffles at ×len volume) — the survivors,
    ~len/mod boundary rows per doc, are all that reach the per-doc
    window; chunk text is then cut by ONE equi-join back to the
    corpus (text ships once per chunk, projected to the substring
    immediately).

    Returns (id_col, chunk_idx, chunk_start, chunk_text)."""
    ln = F.length(F.col(text_col))
    window = F.col(text_col).substr(
        F.col("i") - F.lit(gram - 1), F.lit(gram))
    boundaries = (
        docs.filter(ln >= gram)
        .select(F.col(id_col),
                F.col(text_col),
                F.explode(F.sequence(F.lit(gram), ln)).alias("i"))
        .filter(F.pmod(portable_hash60(window), F.lit(mod)) == 0)
        .select(id_col, "i")
    )
    sentinel = docs.filter(ln >= 1).select(
        F.col(id_col), ln.alias("i"))
    bpos = boundaries.union(sentinel).distinct()
    w = Window.partitionBy(id_col).orderBy("i")
    spans = bpos.select(
        F.col(id_col),
        (F.coalesce(F.lag("i").over(w), F.lit(0)) + 1).alias("s"),
        F.col("i").alias("e"),
        F.row_number().over(w).alias("chunk_idx"))
    return (
        spans.join(docs.select(id_col, text_col), id_col)
        .select(
            F.col(id_col), "chunk_idx",
            F.col("s").alias("chunk_start"),
            F.col(text_col).substr(
                F.col("s"), F.col("e") - F.col("s") + 1)
            .alias("chunk_text"))
    )
