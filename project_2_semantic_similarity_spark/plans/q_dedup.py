"""Deduplication query family (SURVEY.md §2.B "LLM-data-pipeline
extensions"), over the documents table.

Every query here carries a full DuckDB oracle. dedup_minhash /
dedup_simhash were rows-only through r4 (xxhash64 bit patterns are
engine-specific); r5 moved their declared plans to the *portable*
md5-based hash family (operators/dedup.py portable_hash60) and exact
candidate re-verification, so even the LSH pipelines are now
re-derived end-to-end by the oracle. Recall vs exact Jaccard is
additionally asserted in tests/test_dedup_knn.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_2_semantic_similarity_spark.operators import dedup as D
from project_2_semantic_similarity_spark.operators.cache import (
    keyed_persist, keyed_value)
from project_2_semantic_similarity_spark.plans.registry import query
from project_2_semantic_similarity_spark.session import local_frame
from project_2_semantic_similarity_spark.sources import load_table
from project_2_semantic_similarity_spark.sources.tables import table_key

_SHINGLE_N = 3
_JACCARD_MIN = 0.5


def _corpus_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distinct 3-shingle relation (doc_id, shingle), persisted
    per corpus snapshot (r15, guide §5 / the tokenizer-family slot
    discipline): five query paths (containment, jaccard_exact,
    pipeline, the jaccard cluster family, minhash) each rebuilt it
    per execution — and worse, within ONE containment/jaccard
    execution Catalyst instantiated the tokenize+explode+distinct
    subtree FOUR times (pair-join a/b sides + the two size
    aggregates; plans/r15/dedup_containment_before.txt). One slot =
    one build per snapshot, every reference an InMemoryRelation. At
    100 TB this relation is the pipeline's materialization point
    (checkpointed once per snapshot), exactly the SCALE.md shape."""
    docs = load_table(spark, sf_dir, "documents")
    return keyed_persist(
        "dd_shingles3", table_key(sf_dir, "documents"),
        lambda: D.shingles(docs, _SHINGLE_N))


@query(
    "dedup_exact",
    oracle="""
WITH hashed AS (
    SELECT doc_id, text, lang, source, n_chars,
           sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS content_hash
    FROM documents
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY content_hash ORDER BY doc_id)
               AS rn,
           CAST(count(*) OVER (PARTITION BY content_hash) AS BIGINT)
               AS group_size
    FROM hashed
)
SELECT doc_id, content_hash, group_size
FROM ranked WHERE rn = 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by sha256 of normalized text; lowest doc_id kept
    per group (deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs).select(
        "doc_id", "content_hash",
        F.col("group_size").cast("bigint").alias("group_size"))


@query(
    "dedup_incremental",
    oracle="""
WITH batch AS (
    SELECT doc_id, text,
           sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS content_hash
    FROM documents WHERE doc_id % 5 = 0
),
seen AS (
    SELECT DISTINCT
           sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS content_hash
    FROM documents WHERE doc_id % 5 <> 0
),
novel AS (
    SELECT b.*,
           row_number() OVER (PARTITION BY b.content_hash
                              ORDER BY b.doc_id) AS rn
    FROM batch b ANTI JOIN seen s USING (content_hash)
)
SELECT doc_id, content_hash FROM novel WHERE rn = 1
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: docs with doc_id % 5 = 0 play the
    'new crawl drop', the rest the existing corpus; keep only batch
    docs whose normalized content is novel (operators/dedup.py
    incremental_dedup — anti-join against the corpus's distinct
    hash set, then intra-batch collapse)."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return D.incremental_dedup(batch, corpus).select(
        "doc_id", "content_hash")


@query(
    "dedup_url",
    oracle="""
WITH raw AS (
    SELECT doc_id,
           'HTTPS://WWW.EXAMPLE' || (doc_id % 5) || '.COM'
           || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
           || '/docs/' || (doc_id % 250)
           || CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END
           || CASE WHEN doc_id % 4 = 0
                   THEN '?utm_source=rss&utm_medium=feed' ELSE '' END
           || CASE WHEN doc_id % 5 = 2
                   THEN '#section-' || (doc_id % 7) ELSE '' END
               AS url
    FROM documents
),
noutm AS (
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   regexp_replace(url, '#.*$', '', 'g'),
                   '\\?(utm_[^&#]*&)+', '?', 'g'),
               '[?&]utm_[^&#]*', '', 'g') AS u
    FROM raw
),
parts AS (
    SELECT doc_id, u,
           regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)
               AS auth
    FROM noutm
),
canon AS (
    SELECT doc_id,
           regexp_replace(
               regexp_replace(lower(auth), '^(http://.*):80$', '\\1', 'g'),
               '^(https://.*):443$', '\\1', 'g')
           || regexp_replace(substr(u, length(auth) + 1), '/$', '', 'g')
               AS canonical_url
    FROM parts
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_dups,
       min(doc_id) AS keep_doc_id
FROM canon
GROUP BY canonical_url
""",
)
def dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level (URL) dedup — the web-crawl counterpart of
    content dedup: the same page arrives under many URL spellings
    (case-shifted host, explicit default port, tracking params,
    fragments, trailing slash), and collapsing on the CANONICAL form
    (operators/dedup.py canonical_url) dedups fetches before any
    text is even compared. The corpus has no URL column, so each doc
    is deterministically decorated with a synthetic raw URL derived
    from doc_id exercising every rule; the oracle applies the same
    decoration + regex pipeline. Keeps min(doc_id) per canonical
    URL.

    Scale shape: canonicalization is a narrow codegen'd regex map;
    the collapse is one hash agg on the canonical key with map-side
    partials — no window, no join; at crawl scale the canonical key
    is also the natural bucketing column for the fetch-log table."""
    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW.EXAMPLE"), (d % 5).cast("string"),
            F.lit(".COM"),
            F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/docs/"), (d % 250).cast("string"),
            F.when(d % 2 == 1, F.lit("/")).otherwise(F.lit("")),
            F.when(d % 4 == 0,
                   F.lit("?utm_source=rss&utm_medium=feed"))
            .otherwise(F.lit("")),
            F.when(d % 5 == 2,
                   F.concat(F.lit("#section-"), (d % 7).cast("string")))
            .otherwise(F.lit("")),
        ).alias("url"))
    return (
        raw.select("doc_id", D.canonical_url(F.col("url"))
                   .alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_dups"),
             F.min("doc_id").alias("keep_doc_id"))
    )


_CONTAIN_MIN = 0.8


@query(
    "dedup_containment",
    oracle=f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
),
tok AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split_regex(text, '\\s+'), 1)
                AS BIGINT) AS pos,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
seq AS (
    SELECT doc_id, pos, term,
           lead(term, 1) OVER w AS t1,
           lead(term, 2) OVER w AS t2
    FROM tok WHERE term <> ''
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM seq WHERE t2 IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter / CAST(sa.sz AS DOUBLE), 6) AS c_a_in_b,
       round(i.n_inter / CAST(sb.sz AS DOUBLE), 6) AS c_b_in_a
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_inter / CAST(sa.sz AS DOUBLE) >= {_CONTAIN_MIN}
   OR i.n_inter / CAST(sb.sz AS DOUBLE) >= {_CONTAIN_MIN}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-containment near-dup pairs (either
    direction ≥ 0.8) — catches the short-doc-quoted-in-long-doc case
    Jaccard's union denominator dilutes (operators/dedup.py
    containment_pairs)."""
    pairs = D.containment_pairs(_corpus_shingles(spark, sf_dir),
                                _CONTAIN_MIN)
    return pairs.select(
        "doc_a", "doc_b",
        F.round("c_a_in_b", 6).alias("c_a_in_b"),
        F.round("c_b_in_a", 6).alias("c_b_in_a"))


@query(
    "dedup_jaccard_exact",
    oracle=f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
),
tok AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split_regex(text, '\\s+'), 1)
                AS BIGINT) AS pos,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
seq AS (
    SELECT doc_id, pos, term,
           lead(term, 1) OVER w AS t1,
           lead(term, 2) OVER w AS t2
    FROM tok WHERE term <> ''
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM seq WHERE t2 IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE), 6)
           AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE)
      >= {_JACCARD_MIN}
""",
)
def dedup_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {n}-gram shingle Jaccard near-dup pairs (J ≥ 0.5):
    the verification stage of the dedup pipeline; at scale it runs
    on LSH candidates only (see dedup_minhash)."""
    pairs = D.jaccard_pairs(_corpus_shingles(spark, sf_dir),
                            _JACCARD_MIN)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


@query(
    "dedup_pipeline",
    oracle=f"""
WITH hashed AS (
    SELECT doc_id,
           sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS content_hash
    FROM documents
),
exact_loser AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY content_hash
                                  ORDER BY doc_id) AS rn
        FROM hashed
    ) WHERE rn > 1
),
corpus AS (SELECT doc_id, text FROM documents),
tok AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split_regex(text, '\\s+'), 1)
                AS BIGINT) AS pos,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
seq AS (
    SELECT doc_id, pos, term,
           lead(term, 1) OVER w AS t1,
           lead(term, 2) OVER w AS t2
    FROM tok WHERE term <> ''
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM seq WHERE t2 IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
near_loser AS (
    SELECT DISTINCT i.doc_b AS doc_id
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE)
          >= {_JACCARD_MIN}
)
SELECT d.doc_id
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM exact_loser)
  AND d.doc_id NOT IN (SELECT doc_id FROM near_loser)
""",
)
def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pass as a training pipeline runs it: drop
    exact-dup non-leaders (sha256 groups, lowest doc_id kept), then
    drop the higher-id side of every near-dup pair (J >= 0.5 on
    3-shingles). One-hop suppression, not transitive closure —
    deterministic, single-pass, and what a streaming-ingest dedup
    actually does; the discovery stage at scale is the LSH variant
    (dedup_minhash), with this exact-Jaccard check run on candidates
    only."""
    docs = load_table(spark, sf_dir, "documents")
    exact = D.exact_dedup(docs).select("doc_id")
    pairs = D.jaccard_pairs(_corpus_shingles(spark, sf_dir),
                            _JACCARD_MIN)
    near_losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        docs.select("doc_id")
        .join(exact, "doc_id", "left_semi")          # exact leaders only
        .join(near_losers, "doc_id", "left_anti")    # drop near-dup b side
    )


@query(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE corpus AS (
    SELECT doc_id, text FROM documents
),
tok AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split_regex(text, '\\s+'), 1)
                AS BIGINT) AS pos,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
seq AS (
    SELECT doc_id, pos, term,
           lead(term, 1) OVER w AS t1,
           lead(term, 2) OVER w AS t2
    FROM tok WHERE term <> ''
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM seq WHERE t2 IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
near AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE)
          >= {_JACCARD_MIN}
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM near
    UNION
    SELECT doc_b AS u, doc_a AS v FROM near
),
walk(node, label) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v
),
comp AS (
    SELECT node AS doc_id, min(label) AS component_id
    FROM walk GROUP BY node
),
csz AS (
    SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
    FROM comp GROUP BY component_id
)
SELECT c.doc_id, c.component_id, s.component_size
FROM comp c JOIN csz s USING (component_id)
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup CLUSTERS over the exact-Jaccard pair
    relation (J >= 0.5 on 3-shingles): connected components with
    min-label propagation (operators/graph.py dedup_clusters — on the
    driver while the pairs fit under ``CC_LOCAL_MAX_EDGES``, as a
    distributed loop past it), then cluster size. This is the
    consolidation step one-hop suppression
    (dedup_pipeline) cannot express — chains a~b~c collapse into one
    cluster with one canonical representative (min doc_id), which is
    what a training-data dedup keeps. The oracle reproduces the
    transitive closure with a recursive CTE: every node walks to
    every reachable label, min per node = component id."""
    return _jaccard_clusters(spark, sf_dir)


def _jaccard_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clusters of the exact-Jaccard pair relation, memoized per
    corpus snapshot, so dedup_clusters and dedup_transitive_keep
    share one pair build and one labelling. The memoized result is a
    LocalRelation, or a localCheckpoint past ``CC_LOCAL_MAX_EDGES``
    pairs; either way it holds no lineage back to the pair join."""
    from project_2_semantic_similarity_spark.operators.graph import (
        dedup_clusters as clusters_op)

    return keyed_value(
        "dd_jaccard_clusters", table_key(sf_dir, "documents"),
        lambda: clusters_op(D.jaccard_pairs(
            _corpus_shingles(spark, sf_dir), _JACCARD_MIN)))


@query(
    "corpus_decontaminate",
    oracle="""
WITH corpus AS (
    SELECT doc_id, text FROM documents
),
tok AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split_regex(text, '\\s+'), 1)
                AS BIGINT) AS pos,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
seq AS (
    SELECT doc_id, pos, term,
           lead(term, 1) OVER w AS t1,
           lead(term, 2) OVER w AS t2,
           lead(term, 3) OVER w AS t3,
           lead(term, 4) OVER w AS t4
    FROM tok WHERE term <> ''
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
    SELECT DISTINCT doc_id,
           term || ' ' || t1 || ' ' || t2 || ' ' || t3 || ' ' || t4
               AS shingle
    FROM seq WHERE t4 IS NOT NULL
),
ev AS (
    SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
),
bad AS (
    SELECT DISTINCT s.doc_id
    FROM sh s JOIN ev USING (shingle)
    WHERE s.doc_id % 97 <> 0
)
SELECT d.doc_id
FROM documents d
WHERE d.doc_id % 97 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
""",
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over the documents table: docs with
    doc_id % 97 = 0 play the held-out eval set, the rest the training
    corpus; training docs sharing any 5-token shingle with the eval
    set are dropped (operators/dedup.py decontaminate — broadcast
    eval-shingle probe, the corpus is never shuffled)."""
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 97 == 0)
    tr = docs.where(F.col("doc_id") % 97 != 0)
    return D.decontaminate(tr, ev, n=5).select("doc_id")


@query(
    "dedup_transitive_keep",
    oracle=f"""
WITH RECURSIVE corpus AS (
    SELECT doc_id, text FROM documents
),
tok AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split_regex(text, '\\s+'), 1)
                AS BIGINT) AS pos,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
seq AS (
    SELECT doc_id, pos, term,
           lead(term, 1) OVER w AS t1,
           lead(term, 2) OVER w AS t2
    FROM tok WHERE term <> ''
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM seq WHERE t2 IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM sh a JOIN sh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
near AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.n_inter / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE)
          >= {_JACCARD_MIN}
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM near
    UNION
    SELECT doc_b AS u, doc_a AS v FROM near
),
walk(node, label) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
    UNION
    SELECT e.u, w.label FROM edges e JOIN walk w ON w.node = e.v
),
comp AS (
    SELECT node AS doc_id, min(label) AS component_id
    FROM walk GROUP BY node
)
SELECT d.doc_id
FROM documents d
WHERE d.doc_id NOT IN
      (SELECT doc_id FROM comp WHERE doc_id <> component_id)
""",
)
def dedup_transitive_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep set a TRANSITIVE dedup materializes: one canonical
    representative (min doc_id) per near-dup cluster, plus every
    unclustered doc. This is what dedup_pipeline's one-hop
    suppression approximates — chains a~b~c keep only a here, and a
    doc that is the b-side of one pair but the a-side of another is
    never double-dropped. Composition of dedup_clusters
    (operators/graph.py) + one anti-join."""
    docs = load_table(spark, sf_dir, "documents")
    losers = (_jaccard_clusters(spark, sf_dir)
              .filter(F.col("doc_id") != F.col("component_id"))
              .select("doc_id"))
    return docs.select("doc_id").join(losers, "doc_id", "left_anti")


def ensure_minhash_variant(spark: SparkSession, sf_dir: str,
                           docs: DataFrame | None = None) -> str:
    """The minhash narrow/wide variant verdict for a corpus, memoized
    per corpus snapshot: the probe is one narrow scan aggregate, run
    once per snapshot instead of once per execution."""
    return keyed_value(
        "dd_minhash_variant", table_key(sf_dir, "documents"),
        lambda: D.probe_minhash_variant(
            load_table(spark, sf_dir, "documents") if docs is None
            else docs))


def _minhash_consts_values(num_hashes: int = 64, seed: int = 42) -> str:
    """The exact (a_i, b_i) affine constants minhash_signatures draws
    (same RNG, same draw order — operators/dedup.py _minhash_cols),
    rendered as a SQL VALUES list so the DuckDB oracle runs the
    identical hash family."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(num_hashes):
        a = rng.randrange(1, D._MERSENNE31)
        b = rng.randrange(0, D._MERSENNE31)
        rows.append(f"({i}, {a}, {b})")
    return ", ".join(rows)


_MINHASH_ORACLE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
),
tok AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split_regex(text, '\\s+'), 1)
                AS BIGINT) AS pos,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
seq AS (
    SELECT doc_id, pos, term,
           lead(term, 1) OVER w AS t1,
           lead(term, 2) OVER w AS t2
    FROM tok WHERE term <> ''
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM seq WHERE t2 IS NOT NULL
),
base AS (
    SELECT doc_id,
           (('0x' || substr(md5(shingle), 1, 15))::BIGINT) % 2147483647
               AS base
    FROM sh
),
consts(i, a, b) AS (VALUES {_minhash_consts_values()}),
mh AS (
    SELECT doc_id, i, min((a * base + b) % 2147483647) AS v
    FROM base CROSS JOIN consts
    GROUP BY doc_id, i
),
m AS (
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.i AS i
    FROM mh x JOIN mh y
      ON x.i = y.i AND x.v = y.v AND x.doc_id < y.doc_id
),
band_ok AS (
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT doc_a, doc_b, i // 4 AS band, count(*) AS c
        FROM m GROUP BY 1, 2, 3
    ) WHERE c = 4
),
est AS (
    SELECT doc_a, doc_b, count(*) / 64.0 AS est_jaccard
    FROM m GROUP BY 1, 2
)
SELECT b.doc_a, b.doc_b, round(e.est_jaccard, 6) AS est_jaccard
FROM band_ok b JOIN est e USING (doc_a, doc_b)
WHERE e.est_jaccard >= 0.35
"""


@query("dedup_minhash", oracle=_MINHASH_ORACLE)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4 rows) near-dup pairs with
    estimated Jaccard ≥ 0.35.

    Fully oracle-verified (upgraded from rows-only in r5): the
    signature base hash is the *portable* family (md5 low 60 bits —
    operators/dedup.py portable_hash60), whose integer value any
    md5-capable engine reproduces, and candidates are re-verified
    against the raw signature arrays (``verify_bands``), so the
    output is exactly "pairs sharing a fully-agreeing band with
    est-J ≥ 0.35" — a deterministic predicate the DuckDB oracle
    re-derives from scratch, including the same 64 affine constants.
    The banded-LSH equi-join remains the physical discovery plan
    (O(n) signatures, candidates only inside (band, band_hash)
    buckets — never all pairs); recall vs exact Jaccard is separately
    pinned in tests/test_dedup_knn.py."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _corpus_shingles(spark, sf_dir)
    # Variant probe from the raw docs (max tokens/doc bounds max
    # shingles/doc): one narrow scan aggregate instead of a groupBy
    # over the exploded shingle relation — and cached per corpus
    # fingerprint, so repeated calls don't re-scan at all.
    key = table_key(sf_dir, "documents")
    variant = ensure_minhash_variant(spark, sf_dir, docs)
    # Persist the signature table (replacement slot, keyed on the
    # corpus fingerprint): it is tiny (n_docs x 64 ints, ~3 orders of
    # magnitude smaller than the corpus) and feeds three consumers
    # (band buckets + both sides of the estimation join) — without it
    # the shingle+minhash subplan executes three times. Same move at
    # 100 TB: signatures are the materialization point of the dedup
    # pipeline.
    sigs = keyed_persist(
        "minhash_sigs_portable", key,
        lambda: D.minhash_signatures(sh, num_hashes=64, seed=42,
                                     variant=variant,
                                     hash_family="portable"))
    cands = D.minhash_lsh_candidates(sigs, num_hashes=64, bands=16)
    est = D.minhash_estimated_jaccard(sigs, cands, num_hashes=64,
                                      verify_bands=16)
    return (
        est.filter(F.col("est_jaccard") >= 0.35)
        .select("doc_a", "doc_b", F.round("est_jaccard", 6)
                .alias("est_jaccard"))
    )


_SIMHASH_ORACLE = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
tc AS (
    SELECT doc_id, term, count(*) AS tf_count
    FROM tok WHERE term <> '' GROUP BY doc_id, term
),
hv AS (
    SELECT doc_id, tf_count,
           ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
    FROM tc
),
votes AS (
    SELECT doc_id, j,
           sum(CASE WHEN ((h >> j) & 1) = 1
                    THEN tf_count ELSE -tf_count END) AS vote
    FROM hv
    CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) js
    GROUP BY doc_id, j
),
fp AS (
    SELECT doc_id,
           CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit, portable md5 hash family) near-dup pairs at
    Hamming ≤ 8.

    Fully oracle-verified (upgraded from rows-only in r5): term-hash
    bits come from portable_hash60 so DuckDB re-derives the identical
    fingerprints, and the chunk blocking (9 near-equal chunks for
    d=8 on 60 bits) has *exact* recall by pigeonhole — so the blocked
    equi-join output equals the oracle's brute-force all-pairs
    Hamming filter. The blocking stays the physical plan: candidates
    only inside equal (chunk_idx, chunk) buckets."""
    docs = load_table(spark, sf_dir, "documents")
    # r15 (guide §5): the banded pair join references the fingerprint
    # relation on BOTH sides, so unpersisted the whole tokenize +
    # 60-vote-aggregate build ran twice per execution (and again per
    # warm pass) for a snapshot-determined n_docs×16-byte relation.
    fp = keyed_persist(
        "dd_simhash60", table_key(sf_dir, "documents"),
        lambda: D.simhash(docs, bits=60, hash_family="portable"))
    return D.simhash_near_pairs(fp, max_hamming=8, bits=60)


def _trained_codebook(spark: SparkSession,
                      sf_dir: str) -> tuple[DataFrame, int]:
    """(codebook DataFrame, k) for the embeddings table, k ≈ √n
    (capped): a 2-iteration k-means fit on a 4096-vector sample,
    trained once per corpus snapshot. The rows are k driver-held
    centroids, returned as a LocalRelation."""
    from project_2_semantic_similarity_spark.operators.similarity import (
        _CODEBOOK_SCHEMA,
        kmeans_codebook,
    )

    def fit() -> tuple[int, list]:
        e = load_table(spark, sf_dir, "embeddings")
        n = e.count()
        k = max(8, min(256, int(n ** 0.5)))
        return k, [(int(r.label), [float(x) for x in r.centroid])
                   for r in kmeans_codebook(
                       e, k=k, iters=2, fit_sample_max=4096,
                       n_rows=n).collect()]

    k, rows = keyed_value("dd_trained_codebook",
                          table_key(sf_dir, "embeddings"), fit)
    return local_frame(spark, rows, _CODEBOOK_SCHEMA), k


@query(
    "dedup_embedding_cosine",
    oracle="""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
           AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.45
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos > 0.45), exact, on one of
    two branches with the same rows.

    A driver-sized table (``similarity.VEC_LOCAL_MAX_ROWS``) takes
    ``cosine_pairs_local``: the snapshot's vectors are fetched once
    through Arrow (shared with the kNN queries over the same
    snapshot) and all pairs are scored on the driver in row blocks,
    so no codebook fit, assignment or block shuffle runs. Past the
    row bound, or past ``COSINE_LOCAL_MAX_PAIRS`` pairs, the
    distributed ``cosine_pairs_blocked_gemm`` runs: nearest-centroid
    assignment on a trained k-means codebook (k ≈ √n, fit once per
    snapshot), per-cluster angular radii, triangle-inequality
    cluster-pair pruning (provably lossless), then one BLAS matmul
    per candidate cluster pair in an Arrow ``mapInPandas``. At this
    loose threshold (θ_t ≈ 63°) the pruning keeps every cluster pair
    on this corpus, so that branch is an evenly bucketed all-pairs
    block matmul; it prunes as the threshold tightens (pinned in
    tests/test_dedup_knn.py). ``dedup_embedding_cosine_fold`` is the
    same blocking with Column-expression folds."""
    from project_2_semantic_similarity_spark.operators.similarity import (
        cosine_pairs_blocked_gemm,
        cosine_pairs_local,
    )

    e = load_table(spark, sf_dir, "embeddings")
    key = table_key(sf_dir, "embeddings")
    pairs = cosine_pairs_local(e, 0.45, cache_key=key)
    if pairs is None:
        codebook, _k = _trained_codebook(spark, sf_dir)
        # codebook_key: the trained codebook is fully determined by
        # the corpus fingerprint (already in cache_key) and its 2 fit
        # iterations; the durable identity skips the collect probe
        pairs = cosine_pairs_blocked_gemm(
            e, 0.45, codebook, cache_key=key, codebook_key=("trained", 2))
    return pairs.select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


@query(
    "dedup_embedding_cosine_fold",
    oracle="""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
           AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.45
""",
)
def dedup_embedding_cosine_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact pairs as dedup_embedding_cosine (identical oracle,
    identical blocking) with the per-pair cosine as Column-expression
    higher-order folds over a salted cluster-local hash equi-join
    (operators/similarity.py cosine_pairs_blocked) — the pure-JVM
    engine for environments where Arrow/pandas workers are
    unavailable, and the variant whose equi-join plan shape is
    pinned in tests/test_plan_shape.py. Declared r1–r4 as
    `dedup_embedding_cosine`; the r4 VERDICT swapped the primary
    name onto the 2×-faster gemm engine and demoted this one to the
    explicitly-named twin."""
    from project_2_semantic_similarity_spark.operators.similarity import (
        cosine_pairs_blocked,
    )

    e = load_table(spark, sf_dir, "embeddings")
    codebook, k = _trained_codebook(spark, sf_dir)
    salt = max(1, -(-32 // k))  # ceil: k×S covers the cores; k² join
    #   tasks already dominate, so salt>1 only when k is tiny
    # dim=64: the corpus embedding dimensionality (the contract the
    # LSH oracle's hyperplanes_rademacher(64, ...) already hardcodes)
    # unrolls the per-pair dot into codegen (r15); rows of any other
    # size fall back to the identical fold expression.
    pairs = cosine_pairs_blocked(e, 0.45, codebook, salt_buckets=salt,
                                 cache_key=table_key(sf_dir, "embeddings"),
                                 codebook_key=("trained", 2), dim=64)
    return pairs.select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


def _cosine_lsh_oracle() -> str:
    """DuckDB oracle for the multi-table sign-LSH pair pipeline: the
    same md5-derived ±1 plane matrix (24 tables × 4 planes, seed 42),
    per-table buckets exploded from a struct list, candidate
    equi-join on (table, bucket), exact-cosine re-check — the full
    approximate pipeline re-derived from scratch."""
    from project_2_semantic_similarity_spark.operators.similarity import (
        hyperplanes_rademacher,
    )
    from project_2_semantic_similarity_spark.plans.q_knn import (
        _bucket_sql,
    )

    n_planes, n_tables = 4, 24
    planes = hyperplanes_rademacher(64, n_planes * n_tables, seed=42)
    entries = []
    for t in range(n_tables):
        tp = planes[t * n_planes:(t + 1) * n_planes]
        entries.append(
            "{'table_id': %d, 'bucket': %s}"
            % (t, _bucket_sql(tp).replace("\n", " ")))
    struct_list = ",\n               ".join(entries)
    return f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
tb AS (
    SELECT vec_id,
           unnest([{struct_list}]) AS t
    FROM e
),
tabs AS (
    SELECT vec_id, t.table_id AS table_id, t.bucket AS bucket FROM tb
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM tabs a JOIN tabs b
      ON a.table_id = b.table_id AND a.bucket = b.bucket
     AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cosine
FROM cand c
JOIN e ea ON ea.vec_id = c.vec_a
JOIN e eb ON eb.vec_id = c.vec_b
WHERE list_cosine_similarity(ea.emb, eb.emb) > 0.45
"""


@query("dedup_embedding_cosine_lsh", oracle=_cosine_lsh_oracle())
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via multi-table sign-LSH candidates
    + exact cosine re-check (cos > 0.45). The scale path for
    UNCLUSTERED corpora, where no exact blocking can prune: O(L·n)
    preprocessing, bucket-local candidate equi-join, zero false
    positives.

    Fully oracle-verified (upgraded from rows-only in r5): the
    hyperplanes are the md5-derived ±1 Rademacher family
    (operators/similarity.py hyperplanes_rademacher), so the DuckDB
    oracle re-derives the identical bucket matrix and candidate set —
    the approximation is deterministic and engine-independent. Recall
    vs the exact pairs stays pinned in tests/test_dedup_knn.py."""
    from project_2_semantic_similarity_spark.operators.similarity import (
        cosine_pairs_lsh,
    )

    e = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_lsh(e, 0.45, dim=64, n_planes=4,
                             n_tables=24, seed=42,
                             plane_family="rademacher")
    return pairs.select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


_PASSAGE_W = 8


@query(
    "dedup_passage",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'),
                       t -> t <> '') AS toks
    FROM documents
),
win AS (
    SELECT doc_id,
           md5(array_to_string(
               toks[t.n + 1 : t.n + {_PASSAGE_W}], ' ')) AS passage_md5
    FROM tok,
         UNNEST(range(greatest(len(toks) - {_PASSAGE_W} + 1, 0))) AS t(n)
)
SELECT passage_md5,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       min(doc_id) AS sample_doc
FROM win
GROUP BY passage_md5
HAVING count(DISTINCT doc_id) >= 2
""",
)
def dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-passage detection: every {W}-token rolling window,
    hashed, grouped, kept where it appears in ≥ 2 distinct docs — the
    bounded-window form of exact-substring training-data dedup (the
    suffix-array method's common fixed-length approximation; the
    reference's shared-term discovery, app.py:141-151, is the 1-token
    degenerate case of the same shape).

    Scale shape: the window explode is a narrow per-doc map emitting
    ~len(doc) rows of (16-byte hash) — no pairwise comparison ever
    happens; duplication detection is ONE hash aggregation on the
    passage hash (count + count-distinct partials combine map-side).
    At 100 TB, W-token windows make the shuffled volume W× a plain
    token shuffle, all uniformly-distributed md5 keys (no skew), and
    the HAVING filter prunes the unique-passage long tail before any
    driver contact. Compare dedup_minhash (probabilistic whole-doc)
    and dedup_containment (shingle containment): this one finds the
    VERBATIM cross-doc passages those ops only score in aggregate."""
    from project_2_semantic_similarity_spark.operators.similarity import (
        _spread)

    # _spread: a small-SF corpus is one parquet file → one scan
    # partition, and the md5-per-window map (the dominant cost) would
    # serialize on a single core (measured 2.0s single-task vs 0.4s
    # spread at sf0.1). No-op at scale where the scan has ≥cores
    # partitions. Hash-spread on doc_id (r14): round-robin paid a
    # full local sort of the document text (sortBeforeRepartition).
    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"),
                 lambda t: t != F.lit("")).alias("toks"))
    # size guard BEFORE sequence: sequence(0, -1) would count DOWN
    # (Spark infers step -1), emitting bogus windows for docs shorter
    # than W tokens — those docs must emit none, as the oracle's
    # range(greatest(len-W+1, 0)) does. The guard is a when() branch,
    # not a filter (r14): a .filter(size(toks) >= W) gets pushed
    # below the spread exchange where `toks` doesn't exist yet, so
    # the whole split() ran twice per document (once in the pushed
    # filter, again in the projection — guide §2.4 plan audit);
    # when() evaluates its branches lazily, so short docs emit an
    # empty array (explode drops them) and split() runs exactly once.
    win = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= _PASSAGE_W,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - _PASSAGE_W),
                    lambda i: F.md5(F.concat_ws(
                        " ", F.slice("toks", i + 1, _PASSAGE_W)))))
            .otherwise(F.array().cast("array<string>")),
        ).alias("passage_md5"))
    return (
        win.groupBy("passage_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("sample_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "dedup_chunk_cdc",
    oracle="""
WITH corpus AS (
    SELECT doc_id, text, length(text) AS ln FROM documents
    WHERE length(text) >= 1
),
bpos AS (
    SELECT doc_id, i FROM (
        SELECT doc_id, text,
               unnest(generate_series(8, ln)) AS i
        FROM corpus WHERE ln >= 8
    ) WHERE ('0x' || substr(md5(substr(text, i - 7, 8)), 1, 15))::BIGINT
            % 64 = 0
    UNION
    SELECT doc_id, ln AS i FROM corpus
),
spans AS (
    SELECT doc_id,
           coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1
               AS s,
           i AS e
    FROM bpos
),
chunks AS (
    SELECT sp.doc_id, substr(d.text, sp.s, sp.e - sp.s + 1) AS chunk_text
    FROM spans sp JOIN corpus d USING (doc_id)
),
fp AS (
    SELECT ('0x' || substr(md5(chunk_text), 1, 15))::BIGINT AS chunk_hash,
           length(chunk_text) AS chunk_len, doc_id
    FROM chunks WHERE length(chunk_text) >= 16
)
SELECT chunk_hash,
       CAST(min(chunk_len) AS BIGINT) AS chunk_len,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM fp GROUP BY 1 HAVING count(*) >= 2
""",
)
def dedup_chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup by CONTENT-DEFINED chunking
    (operators/dedup.py cdc_chunks): boundaries fall where the
    portable hash of the trailing 8-gram ≡ 0 mod 64, so chunk
    fingerprints survive insertions/shifts that would break
    fixed-size blocking — the granularity at which large corpora
    actually repeat (boilerplate, quoted passages, templates), and
    the passage-level complement of dedup_passage's fixed token
    windows. Emits every chunk (≥ 16 chars) whose fingerprint
    repeats, with its corpus frequency.

    The oracle re-derives boundary positions, spans, substrings and
    fingerprints from the same md5 arithmetic — a one-character
    drift in the chunker breaks the hash."""
    docs = load_table(spark, sf_dir, "documents")
    ch = D.cdc_chunks(docs)
    fp = (
        ch.filter(F.length("chunk_text") >= 16)
        .select("doc_id",
                D.portable_hash60(F.col("chunk_text")).alias("chunk_hash"),
                F.length("chunk_text").alias("chunk_len"))
    )
    return (
        fp.groupBy("chunk_hash")
        .agg(F.min("chunk_len").cast("bigint").alias("chunk_len"),
             F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
             F.count("*").cast("bigint").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 2)
    )


@query(
    "text_dup_chunk_fraction",
    oracle="""
WITH corpus AS (
    SELECT doc_id, text, length(text) AS ln FROM documents
    WHERE length(text) >= 1
),
bpos AS (
    SELECT doc_id, i FROM (
        SELECT doc_id, text,
               unnest(generate_series(8, ln)) AS i
        FROM corpus WHERE ln >= 8
    ) WHERE ('0x' || substr(md5(substr(text, i - 7, 8)), 1, 15))::BIGINT
            % 64 = 0
    UNION
    SELECT doc_id, ln AS i FROM corpus
),
spans AS (
    SELECT doc_id,
           coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1
               AS s,
           i AS e
    FROM bpos
),
fpchunks AS (
    SELECT sp.doc_id,
           sp.e - sp.s + 1 AS clen,
           ('0x' || substr(md5(substr(d.text, sp.s, sp.e - sp.s + 1)),
                           1, 15))::BIGINT AS fp
    FROM spans sp JOIN corpus d USING (doc_id)
),
counts AS (SELECT fp, count(*) AS n_occ FROM fpchunks GROUP BY 1),
dup AS (
    SELECT doc_id, sum(clen) AS dup_chars
    FROM fpchunks JOIN counts USING (fp)
    WHERE n_occ >= 2
    GROUP BY 1
)
SELECT d.doc_id,
       CAST(d.ln AS BIGINT) AS total_chars,
       CAST(coalesce(dup.dup_chars, 0) AS BIGINT) AS dup_chars,
       round(coalesce(dup.dup_chars, 0) / CAST(d.ln AS DOUBLE), 6)
           AS dup_fraction
FROM corpus d LEFT JOIN dup USING (doc_id)
""",
)
def text_dup_chunk_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DUPLICATED-CHUNK MASS — the fraction of a doc's
    characters living in CDC chunks whose fingerprint repeats
    anywhere in the corpus (operators/dedup.py cdc_chunks). This is
    the quality signal the chunk-level view buys that doc-level
    dedup cannot: a document that is 80% boilerplate but 20% novel
    is neither an exact nor a near dup of anything, yet most of its
    training mass is redundant. Pipelines threshold on exactly this
    fraction (and the engineered near-dup decades in the probe
    corpus light it up end-to-end).

    Scale: chunking as in dedup_chunk_cdc; the repeat counts are one
    hash agg on fingerprints and one equi-join back — both
    partitioned on the fingerprint (uniform md5, no skew)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 1)
    ch = D.cdc_chunks(docs).select(
        "doc_id",
        F.length("chunk_text").alias("clen"),
        D.portable_hash60(F.col("chunk_text")).alias("fp"))
    counts = ch.groupBy("fp").agg(F.count("*").alias("n_occ"))
    dup = (
        ch.join(counts, "fp")
        .filter(F.col("n_occ") >= 2)
        .groupBy("doc_id")
        .agg(F.sum("clen").alias("dup_chars"))
    )
    return (
        docs.select("doc_id", F.length("text").alias("ln"))
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.col("ln").cast("bigint").alias("total_chars"),
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("bigint")
            .alias("dup_chars"),
            F.round(F.coalesce(F.col("dup_chars"), F.lit(0))
                    / F.col("ln").cast("double"), 6)
            .alias("dup_fraction"))
    )


_RUNS_W = 8


@query(
    "dedup_substring_runs",
    oracle=f"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'),
                       t -> t <> '') AS toks
    FROM documents
),
sized AS (
    SELECT doc_id, toks, len(toks) AS n_tokens
    FROM tok WHERE len(toks) >= {_RUNS_W}
),
win AS (
    SELECT doc_id, n_tokens, t.n AS pos,
           md5(array_to_string(
               toks[t.n + 1 : t.n + {_RUNS_W}], ' ')) AS h
    FROM sized,
         UNNEST(range(n_tokens - {_RUNS_W} + 1)) AS t(n)
),
shared AS (
    SELECT h FROM win GROUP BY h
    HAVING count(DISTINCT doc_id) >= 2
),
dup AS (
    SELECT w.doc_id, w.n_tokens, w.pos
    FROM win w JOIN shared s USING (h)
),
isl AS (
    SELECT doc_id, n_tokens, pos,
           CASE WHEN pos - lag(pos) OVER (
                    PARTITION BY doc_id ORDER BY pos) > {_RUNS_W}
                THEN 1 ELSE 0 END AS newi
    FROM dup
),
runs AS (
    SELECT doc_id, n_tokens, island,
           min(pos) AS s, max(pos) AS e, count(*) AS n_pos
    FROM (SELECT doc_id, n_tokens, pos,
                 sum(newi) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
          FROM isl)
    GROUP BY doc_id, n_tokens, island
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(sum(n_pos) AS BIGINT) AS n_dup_kgrams,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(sum(e - s + {_RUNS_W}) AS BIGINT) AS covered_tokens,
       CAST(max(e - s + {_RUNS_W}) AS BIGINT) AS longest_run,
       round(sum(e - s + {_RUNS_W})
             / CAST(n_tokens AS DOUBLE), 6) AS covered_frac
FROM runs
GROUP BY doc_id, n_tokens
""",
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated-substring runs per document — the removal
    view of exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": drop the repeated
    SPAN, keep the novel remainder). dedup_passage answers "which
    passages repeat"; this answers the question the cleaner actually
    asks per document: WHERE are the repeated spans, how long is the
    longest, and what fraction of the doc's tokens do they cover.

    Shape: the same {W}-token rolling md5 windows as dedup_passage
    (suffix-array's fixed-length approximation); a window is
    duplicated when its hash occurs in ≥ 2 distinct docs; per doc the
    duplicated window STARTS are coalesced gaps-and-islands style
    (new island when the gap exceeds W — i.e. when the covered
    [pos, pos+W-1] intervals stop overlapping or touching), so
    sum(e − s + W) over islands is the EXACT union token coverage.

    Scale: two hash aggregations on uniform md5 keys (window counts,
    then per-doc islands) plus one per-doc window function over ONLY
    the duplicated positions — after the ≥2-docs filter that relation
    is the duplicated mass, typically orders of magnitude smaller
    than the window explode; no pairwise stage, no driver contact.
    The per-doc window partitions by doc_id (bounded by doc length).
    Docs with no duplicated window emit nothing (the cleaner's
    no-op set)."""
    from pyspark.sql import Window
    from project_2_semantic_similarity_spark.operators.similarity import (
        _spread)

    w = _RUNS_W
    # hash-spread + when-guard (r14): same two fixes as dedup_passage
    # — a keyless repartition sorts the full document text locally,
    # and a .filter(n_tokens >= w) pushed below the spread exchange
    # re-evaluated split() per document; the lazy when() branch emits
    # an empty window array for short docs instead (posexplode drops
    # them), so split() runs once and nothing is sorted.
    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"),
                 lambda t: t != F.lit("")).alias("toks"))
    sized = toks.withColumn("n_tokens", F.size("toks"))
    win = sized.select(
        "doc_id", "n_tokens",
        F.posexplode(
            F.when(
                F.col("n_tokens") >= w,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - w),
                    lambda i: F.md5(F.concat_ws(
                        " ", F.slice("toks", i + 1, w)))))
            .otherwise(F.array().cast("array<string>")))
        .alias("pos", "h"))
    shared = (win.groupBy("h")
              .agg(F.countDistinct("doc_id").alias("dc"))
              .filter(F.col("dc") >= 2)
              .select("h"))
    dup = win.join(shared, "h").select("doc_id", "n_tokens", "pos")
    byday = Window.partitionBy("doc_id").orderBy("pos")
    isl = (dup
           .withColumn(
               "newi",
               F.when(F.col("pos") - F.lag("pos").over(byday) > w, 1)
                .otherwise(0))
           .withColumn("island", F.sum("newi").over(
               byday.rowsBetween(Window.unboundedPreceding, 0))))
    runs = (isl.groupBy("doc_id", "n_tokens", "island")
            .agg(F.min("pos").alias("s"), F.max("pos").alias("e"),
                 F.count("*").alias("n_pos")))
    return (runs.groupBy("doc_id", "n_tokens")
            .agg(F.sum("n_pos").cast("bigint").alias("n_dup_kgrams"),
                 F.count("*").cast("bigint").alias("n_runs"),
                 F.sum(F.col("e") - F.col("s") + w).cast("bigint")
                  .alias("covered_tokens"),
                 F.max(F.col("e") - F.col("s") + w).cast("bigint")
                  .alias("longest_run"))
            .select("doc_id",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    "n_dup_kgrams", "n_runs", "covered_tokens",
                    "longest_run",
                    F.round(F.col("covered_tokens")
                            / F.col("n_tokens").cast("double"), 6)
                     .alias("covered_frac")))
