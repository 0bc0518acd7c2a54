"""Portable distributed sketches — approximate aggregates whose
result is a deterministic, engine-independent function of the data.

Spark's built-in sketches (approx_count_distinct's HLL++,
approx_percentile's variant of KLL) are correct and fast but their
outputs are engine-specific: no external system can re-derive the
same number, so they can only ever be rows-only / error-bounded in a
differential harness. The sketches here trade a little speed for full
auditability: every hash is the portable md5 family
(operators/dedup.py portable_hash60), every step is exact integer or
reproducible float arithmetic, and the matching DuckDB oracle
recomputes the identical estimate from scratch.

Scale shape (the 100 TB story): hll_distinct is the canonical
mergeable sketch — the map side reduces each partition to (bucket,
max rho) pairs (≤ m rows), the merge is an element-wise max, and the
final estimate reads m rows. Shuffled volume is O(m) per partition
regardless of input size, the same contract as Spark's own HLL
partial aggregation. histogram_quantiles is one min/max scan plus one
O(n_buckets) aggregation — two linear passes, shuffle bounded by the
bucket count, with a deterministic rank rule (no interpolation
ambiguity across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from project_2_semantic_similarity_spark.operators.dedup import (
    portable_hash60)
from project_2_semantic_similarity_spark.session import local_frame


def _hll_alpha(m: int) -> float:
    """Bias-correction constant from the HLL paper (Flajolet et al.
    2007) for m ≥ 128."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct(df: DataFrame, col: str, m_log2: int = 8) -> DataFrame:
    """HyperLogLog distinct-count estimate over ``col`` with
    m = 2^m_log2 registers, built from the portable hash family.

    Per value: h = portable_hash60(value) (60 bits); the low m_log2
    bits pick a register, rho = 1 + number of leading zeros of the
    remaining (60 − m_log2)-bit word (computed as bit-length via the
    bin() string — identical in Spark and DuckDB, no float log2
    boundary hazard). Registers take the MAX rho — a partial+final
    max aggregation, i.e. the sketch is mergeable exactly like the
    built-in. Estimate: alpha·m²/Σ2^−M_j with the small-range linear
    counting correction (m·ln(m/V) when E ≤ 2.5m and empty registers
    exist) — the original paper's estimator, no engine-specific bias
    tables, so any engine reproduces it bit-for-bit modulo one ln().

    Returns one row: (m, n_registers_used, approx_distinct)."""
    m = 1 << m_log2
    rem_bits = 60 - m_log2
    h = portable_hash60(F.col(col).cast("string"))
    bucket = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, m_log2)
    rho = F.when(w == 0, F.lit(rem_bits + 1)).otherwise(
        F.lit(rem_bits + 1) - F.length(F.bin(w)))
    regs = (df.select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket").agg(F.max("rho").alias("M")))
    # 2^-M as 1/(1<<M): exact powers of two, no libm pow involved.
    agg = regs.agg(
        F.count("*").alias("used"),
        F.sum(F.lit(1.0)
              / F.expr("shiftleft(cast(1 as bigint), M)").cast("double")
              ).alias("sum_inv"))
    alpha = _hll_alpha(m)
    raw = (F.lit(alpha * m * m)
           / (F.col("sum_inv") + (F.lit(m) - F.col("used"))))
    v = F.lit(m) - F.col("used")  # empty registers
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v)
                 ).otherwise(raw)
    return agg.select(
        F.lit(m).alias("m"),
        F.col("used").cast("bigint").alias("n_registers_used"),
        F.round(est, 6).alias("approx_distinct"))


def hll_oracle_sql(source_sql: str, col: str, m_log2: int = 8) -> str:
    """The DuckDB re-derivation of ``hll_distinct`` — same hash, same
    rho rule, same estimator, generated so the constants can never
    drift from the Spark side."""
    m = 1 << m_log2
    rem = 60 - m_log2
    alpha = _hll_alpha(m)
    amm = alpha * m * m  # one literal, bit-identical to the F.lit side
    return f"""
WITH h AS (
    SELECT ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT
               AS h
    FROM ({source_sql})
),
rr AS (
    SELECT h & {m - 1} AS bucket,
           CASE WHEN (h >> {m_log2}) = 0 THEN {rem + 1}
                ELSE {rem + 1} - length(bin(h >> {m_log2})) END AS rho
    FROM h
),
regs AS (SELECT bucket, max(rho) AS M FROM rr GROUP BY bucket),
agg AS (
    SELECT count(*) AS used,
           sum(1.0 / CAST(1::BIGINT << M AS DOUBLE)) AS sum_inv
    FROM regs
)
SELECT CAST({m} AS INT) AS m,
       CAST(used AS BIGINT) AS n_registers_used,
       round(CASE WHEN ({amm!r}::DOUBLE
                        / (sum_inv + ({m} - used))) <= {2.5 * m}::DOUBLE
                   AND ({m} - used) > 0
                  THEN {float(m)!r}::DOUBLE
                       * ln({float(m)!r}::DOUBLE / ({m} - used))
                  ELSE {amm!r}::DOUBLE / (sum_inv + ({m} - used))
             END, 6) AS approx_distinct
FROM agg
"""


def histogram_quantiles(df: DataFrame, col: str,
                        quantiles: list[float],
                        n_buckets: int = 1024) -> DataFrame:
    """Approximate quantiles from a fixed-width histogram: one
    min/max pass sizes the buckets, one aggregation fills them, the
    q-quantile is the LOWER EDGE of the first bucket whose cumulative
    count reaches ⌈q·n⌉ (a deterministic rank rule — no
    interpolation, so any engine lands on the same edge). Error is
    bounded by one bucket width = (max−min)/n_buckets.

    Returns (quantile, approx_value) rows, quantile ascending."""
    stats = df.agg(F.min(F.col(col).cast("double")).alias("lo"),
                   F.max(F.col(col).cast("double")).alias("hi"),
                   F.count(col).alias("n"))
    width = (F.col("hi") - F.col("lo")) / F.lit(n_buckets)
    hist = (
        df.crossJoin(F.broadcast(stats))
        .select(
            F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
            .otherwise(F.least(
                F.lit(n_buckets - 1),
                F.floor((F.col(col).cast("double") - F.col("lo"))
                        / width).cast("long"))).alias("b"),
            "lo", "hi", "n")
        .groupBy("b", "lo", "hi", "n").agg(F.count("*").alias("c"))
    )
    cum = hist.select(
        "b", "lo", "hi", "n",
        F.sum("c").over(
            Window.orderBy("b")
            .rowsBetween(Window.unboundedPreceding, 0)).alias("cum"))
    qs = [(float(q),) for q in quantiles]
    qdf = local_frame(df.sparkSession, qs, "quantile double")
    picked = (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.ceil(F.col("quantile") * F.col("n")))
        .groupBy("quantile")
        .agg(F.min(F.struct("b", "lo", "hi")).alias("first"))
        .select(
            "quantile",
            F.round(
                F.col("first.lo")
                + F.col("first.b")
                * ((F.col("first.hi") - F.col("first.lo"))
                   / F.lit(n_buckets)), 6).alias("approx_value"))
    )
    return picked.orderBy("quantile")


_KMV_K = 64
_KMV_DOMAIN = float(1 << 60)


def kmv_sketch(df: DataFrame, col: str, scope: str,
               k: int = _KMV_K) -> DataFrame:
    """K-minimum-values sketch rows for one relation: the k smallest
    portable 60-bit hashes of ``col``'s distinct values, tagged with
    ``scope``. KMV is the order-statistic counterpart of HLL
    (hll_distinct above): both are mergeable one-pass sketches, but
    KMV's merge is just "k smallest of the union of sketch rows" —
    an EXACT identity (the k smallest of a union are among the k
    smallest of each side), which makes set-operation estimates
    (union here) computable from sketches alone.

    The row_number window ranks distinct hashes per scope; k-min is
    SALT-INVARIANT (k smallest of k-smallest-per-bucket = k smallest
    overall), so at scale the same result comes from a two-stage
    salted k-min with every aggregation buffer bounded at k — no
    full-scope sort ever needed."""
    h = portable_hash60(F.col(col).cast("string"))
    hashes = df.select(h.alias("h")).distinct()
    w = Window.partitionBy(F.lit(scope)).orderBy("h")
    return (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.lit(scope).alias("scope"), "h")
    )


def kmv_estimate(sketch: DataFrame, k: int = _KMV_K) -> DataFrame:
    """Distinct-count estimate per scope from KMV sketch rows:
    exact size when the sketch holds fewer than k hashes (the whole
    distinct set fits), else (k-1) / u_k with u_k the k-th smallest
    hash normalized to (0,1)."""
    return (
        sketch.groupBy("scope")
        .agg(F.count("*").alias("n_sk"), F.max("h").alias("kth"))
        .select(
            "scope",
            F.round(
                F.when(F.col("n_sk") < k, F.col("n_sk").cast("double"))
                .otherwise((F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN))
                           / F.col("kth")), 2).alias("est_distinct"))
    )


def kmv_oracle_cte(source_sql: str, col: str, scope: str,
                   k: int = _KMV_K) -> str:
    """DuckDB CTE body reproducing kmv_sketch for one scope."""
    return f"""
    SELECT '{scope}' AS scope, h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
            SELECT DISTINCT
                   ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM ({source_sql})
        )
    ) WHERE rn <= {k}"""


_CMS_D = 4
_CMS_W = 512


def _cms_bucket(value_col, j_col, w: int):
    """Bucket of one CMS hash row: portable 60-bit md5 of
    'cms{j}:{value}' mod w — the row salt rides inside the hashed
    string, so the d hash functions are independent md5 draws and any
    md5-capable engine reproduces every bucket exactly."""
    return F.pmod(
        portable_hash60(F.concat(F.lit("cms"), j_col.cast("string"),
                                 F.lit(":"), value_col)),
        F.lit(w)).cast("int")


def cms_sketch(df: DataFrame, col: str, d: int = _CMS_D,
               w: int = _CMS_W) -> DataFrame:
    """Count-min sketch counters ``(j, bucket, c)`` for ``col``
    (Cormode & Muthukrishnan 2005): d independent hash rows of w
    counters each; every input row increments one counter per hash
    row.

    Scale shape: the explode multiplies rows by d (a constant), then
    ONE hash aggregation whose result relation is ≤ d·w rows no
    matter the input size — the map side partially aggregates each
    partition down to ≤ d·w (j, bucket) partials, so the shuffle is
    O(d·w) per partition, the same mergeable-partial contract as
    hll_distinct above. Merging sketches of two relations is
    element-wise counter addition (union + re-aggregate of the
    counter rows), never a revisit of the raw data."""
    rows = df.select(F.col(col).cast("string").alias("v"))
    salted = rows.select(
        "v", F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j"))
    return (
        salted.select("j", _cms_bucket(F.col("v"), F.col("j"), w)
                      .alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def cms_sketch_from_counts(counts: DataFrame, key_col: str,
                           cnt_col: str, d: int = _CMS_D,
                           w: int = _CMS_W) -> DataFrame:
    """``cms_sketch`` from a PRE-AGGREGATED (key, count) relation —
    bit-identical counters (each counter is Σ of the counts of the
    keys hashing into it, exactly the count of the raw rows), at
    d × n_distinct hash evaluations instead of d × n_rows (r15,
    guide §2.3 "aggregate before you shuffle" / §1.2 "don't compute
    things you throw away": the md5 bucket hash is the sketch
    build's hot expression, and a caller that already aggregated
    exact counts — agg_cms_portable does, for its probe side — was
    paying it 30× over on this corpus, 600k raw rows vs 20k keys)."""
    rows = counts.select(F.col(key_col).cast("string").alias("v"),
                         F.col(cnt_col).alias("_n"))
    salted = rows.select(
        "v", "_n",
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j"))
    return (
        salted.select("j", _cms_bucket(F.col("v"), F.col("j"), w)
                      .alias("bucket"), "_n")
        .groupBy("j", "bucket")
        .agg(F.sum("_n").cast("bigint").alias("c"))
    )


def cms_estimate(sketch: DataFrame, probes: DataFrame, key_col: str,
                 d: int = _CMS_D, w: int = _CMS_W) -> DataFrame:
    """Point frequency estimates for ``probes[key_col]`` from CMS
    counter rows: min over the d counters a key hashes into — the
    classic one-sided estimator (never under-counts; over-counts only
    by collision mass). The join is (j, bucket)-equi against a ≤ d·w
    row relation, so Spark broadcasts the sketch side and the probe
    relation never shuffles."""
    keyed = probes.select(F.col(key_col).alias("key")).withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(d - 1))))
    keyed = keyed.withColumn(
        "bucket", _cms_bucket(F.col("key").cast("string"), F.col("j"), w))
    return (
        keyed.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0)))
             .cast("bigint").alias("cms_count"))
    )


_BLOOM_K = 5
_BLOOM_M_LOG2 = 13  # 8192 bits = 128 64-bit words


def _bloom_bitpos(value_col, i: int, m: int):
    """Bit position of hash row ``i``: JVM-native xxhash64 of
    'bloom{i}:{value}' mod m. Deliberately NOT the portable md5
    family: a bloom's false positives are semantically transparent
    (the exact join downstream rechecks every survivor), so
    cross-engine reproducibility buys nothing here and xxhash64 is
    ~5× cheaper per probe — at fact-table volume the k probes ARE
    the prefilter's cost. Within Spark the filter is still fully
    deterministic. The sketches whose VALUES are the result (CMS,
    KMV, HLL, minhash) keep md5."""
    return F.pmod(
        F.xxhash64(F.concat(F.lit(f"bloom{i}:"), value_col)),
        F.lit(m))


def bloom_build(df: DataFrame, col: str, k: int = _BLOOM_K,
                m_log2: int | None = None,
                bits_per_key: int = 10) -> list[int]:
    """Bloom filter of ``col``'s values as a dense list of
    2^m_log2 / 64 signed-long words, built distributed and collected
    to the driver.

    ``m_log2`` defaults to AUTO-SIZING from the actual key count
    (one count() on the small side): ~``bits_per_key`` bits per key
    rounded up to a power of two, clamped to [2^13, 2^17] bits
    (1 KiB – 16 KiB of words). Under-sizing is the silent failure
    mode of a fixed-m bloom — at 10× the designed key count the
    filter saturates and the "prefilter" passes ~20% of the fact
    table while still paying k hashes per row. Past the 2^17 clamp
    (~13k keys at 10 bits/key) the constant-folded-literal approach
    itself wanes — switch to Spark's native runtime bloom join
    (spark.sql.optimizer.runtime.bloomFilter.enabled) there.

    The collect is BIT-ARRAY-sized (m bits), never data-sized: the
    groupBy("word") pre-aggregates every partition down to ≤ m/64
    (word, mask) partials, so this is exactly the cost profile of
    building a broadcast-join hash table, which is the role the
    filter plays (a broadcastable stand-in for the small side's key
    set when even the key set is too wide to ship row-by-row)."""
    import math

    if m_log2 is None:
        n = df.count()
        m_log2 = min(17, max(13, math.ceil(
            math.log2(max(n, 1) * bits_per_key))))
    m = 1 << m_log2
    pos = df.select(F.col(col).cast("string").alias("v")).select(
        F.explode(F.array(*[
            _bloom_bitpos(F.col("v"), i, m) for i in range(k)
        ])).alias("p"))
    words = (
        pos.select((F.col("p") / 64).cast("int").alias("word"),
                   (F.col("p") % 64).cast("int").alias("bit"))
        .distinct()
        .select("word", F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
                .alias("mask"))
        .groupBy("word").agg(F.bit_or("mask").alias("mask"))
        .collect()
    )
    dense = [0] * (m // 64)
    for r in words:
        dense[r["word"]] = r["mask"]
    return dense


def bloom_might_contain(col, words: list[int], k: int = _BLOOM_K):
    """JVM-side membership test Column against a driver-held word
    list: k xxhash64-derived bit probes (see ``_bloom_bitpos`` for
    why xxhash64 rather than portable md5) ANDed together, the bit array
    riding along as a constant-folded array literal (the moral
    equivalent of a broadcast variable, but visible to Catalyst).
    No Python runs per row; the whole predicate stays inside
    whole-stage codegen. The bit-array size is derived from the
    word list itself (64 bits per word), so a filter built with any
    auto-sized m verifies against the matching m by construction."""
    m = 64 * len(words)
    assert m and (m & (m - 1)) == 0, "word list must be 2^n bits"
    arr = F.array(*[F.lit(int(x)).cast("long") for x in words])
    test = F.lit(True)
    for i in range(k):
        p = _bloom_bitpos(col.cast("string"), i, m)
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        test = test & _bit_test(word, (p % 64).cast("int"))
    return test


def _bit_test(word_col, bit_col):
    """(word >> bit) & 1 = 1 with a COLUMN shift amount (the
    functions.shiftright wrapper only accepts an int literal)."""
    return (F.call_function("shiftright", word_col, bit_col)
            .bitwiseAND(F.lit(1)) == F.lit(1))
