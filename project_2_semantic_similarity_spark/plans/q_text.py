"""Text / TF-IDF query family (SURVEY.md §2.B "Text analytics").

All run over the ``documents`` table. The DuckDB oracles mirror each
Spark plan as a CTE chain; float columns rounded to 6 dp on both
sides. FLAGSHIP_QUERY_TERM = 'join' (mid-to-top frequency in the
testdata vocabulary, df ≈ 380/500, so idf > 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_2_semantic_similarity_spark.operators import text as T
from project_2_semantic_similarity_spark.plans.registry import query
from project_2_semantic_similarity_spark.sources import (
    corpus_from_documents,
    load_table,
)

FLAGSHIP_QUERY_TERM = "join"
FLAGSHIP_K = 5

# Shared CTE prefix for the DuckDB oracles: corpus -> tokens ->
# term counts -> tfidf, mirroring operators/text.py step by step.
_TFIDF_CTES = """
corpus AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
tc AS (
    SELECT doc_id, term, count(*) AS tf_count
    FROM tok WHERE term <> '' GROUP BY doc_id, term
),
n AS (SELECT count(*) AS n_docs FROM corpus),
w AS (
    SELECT doc_id, term, tf_count,
           sum(tf_count) OVER (PARTITION BY doc_id) AS doc_len,
           count(*) OVER (PARTITION BY term) AS df
    FROM tc
),
tfidf AS (
    SELECT doc_id, term,
           (tf_count / CAST(doc_len AS DOUBLE))
             * log10(n_docs / CAST(df AS DOUBLE)) AS tfidf
    FROM w, n
)
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_from_documents(load_table(spark, sf_dir, "documents"))


def _corpus_key(sf_dir: str) -> tuple[str, str]:
    """Cache identity of the documents corpus for the persisted-slot
    reuse in operators/text.py: path + content fingerprint, so
    regenerated testdata invalidates instead of serving stale."""
    from project_2_semantic_similarity_spark.sources.tables import (
        source_fingerprint)

    return (sf_dir, source_fingerprint(sf_dir, "documents"))


@query(
    "flagship_term_similarity",
    oracle=f"""
WITH {_TFIDF_CTES},
q AS (
    SELECT doc_id, tfidf AS v1 FROM tfidf
    WHERE term = '{FLAGSHIP_QUERY_TERM}'
),
qn AS (SELECT sqrt(sum(v1 * v1)) AS norm_q FROM q),
sims AS (
    SELECT t.term,
           sum(coalesce(q.v1, 0) * t.tfidf) AS numerator,
           sum(t.tfidf * t.tfidf) AS denominator2
    FROM tfidf t LEFT JOIN q ON t.doc_id = q.doc_id
    WHERE t.term <> '{FLAGSHIP_QUERY_TERM}'
    GROUP BY t.term
),
final AS (
    SELECT term,
           numerator / (sqrt(denominator2) * norm_q) AS sim
    FROM sims, qn
)
SELECT term, round(sim, 6) AS similarity
FROM final
WHERE sim IS NOT NULL AND sim <> 0
ORDER BY sim DESC, term ASC
LIMIT {FLAGSHIP_K}
""",
)
def flagship_term_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference program (app.py:115-181): TF-IDF + cosine
    term-term similarity, top-5. Pattern filter off: the testdata
    vocabulary has no gene_* terms (FIXTURES.md §2).

    ``cache_key``: repeated runs over the same testdata reuse the
    persisted term index instead of leaking one copy per call."""
    return T.term_similarity_pipeline(
        _corpus(spark, sf_dir), FLAGSHIP_QUERY_TERM, FLAGSHIP_K, round_to=6,
        cache_key=_corpus_key(sf_dir))


@query(
    "text_tokenize",
    oracle="""
WITH corpus AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
),
tok AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split_regex(text, '\\s+'), 1) - 1
                AS BIGINT) AS pos,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
)
SELECT doc_id, pos, term FROM tok WHERE term <> ''
""",
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R4 (app.py:11-17): whitespace tokenize with position."""
    return T.tokenize(_corpus(spark, sf_dir)).select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "term")


@query(
    "text_term_counts",
    oracle="""
WITH corpus AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
)
SELECT doc_id, term, count(*) AS tf_count
FROM tok WHERE term <> ''
GROUP BY doc_id, term
""",
)
def text_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R5 phase-1 reduce (app.py:18-21)."""
    return T.term_counts(T.tokenize(_corpus(spark, sf_dir)))


@query(
    "text_tf",
    oracle="""
WITH corpus AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
tc AS (
    SELECT doc_id, term, count(*) AS tf_count
    FROM tok WHERE term <> '' GROUP BY doc_id, term
)
SELECT doc_id, term, tf_count,
       CAST(sum(tf_count) OVER (PARTITION BY doc_id) AS BIGINT) AS doc_len,
       round(tf_count / CAST(sum(tf_count) OVER (PARTITION BY doc_id)
             AS DOUBLE), 6) AS tf
FROM tc
""",
)
def text_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R6+R8 numerator (app.py:24-41): per-doc term
    frequency via a window total instead of a driver loop."""
    counts = T.with_doc_length(T.term_counts(T.tokenize(_corpus(spark, sf_dir))))
    return counts.select(
        "doc_id", "term", "tf_count", "doc_len",
        F.round(F.col("tf_count") / F.col("doc_len"), 6).alias("tf"),
    )


@query(
    "text_df_idf",
    oracle="""
WITH corpus AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
tc AS (
    SELECT DISTINCT doc_id, term FROM tok WHERE term <> ''
),
n AS (SELECT count(*) AS n_docs FROM corpus)
SELECT term, count(*) AS df,
       round(log10(any_value(n.n_docs) / CAST(count(*) AS DOUBLE)), 6) AS idf
FROM tc, n
GROUP BY term
""",
)
def text_df_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R7+R8 idf part (app.py:43-58): document frequency and
    log10 idf per term."""
    corpus = _corpus(spark, sf_dir)
    n_docs = corpus.agg(F.count("*").alias("n_docs"))
    counts = T.term_counts(T.tokenize(corpus))
    return (
        counts.groupBy("term").agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term", "df",
            F.round(F.log10(F.col("n_docs") / F.col("df")), 6).alias("idf"),
        )
    )


@query(
    "text_tfidf",
    oracle=f"""
WITH {_TFIDF_CTES}
SELECT doc_id, term, round(tfidf, 6) AS tfidf FROM tfidf
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference R8 full composition (app.py:58)."""
    weights = T.tfidf(_corpus(spark, sf_dir))
    return weights.select(
        "doc_id", "term", F.round("tfidf", 6).alias("tfidf"))


@query(
    "text_doc_similarity",
    oracle=f"""
WITH {_TFIDF_CTES},
norms AS (
    SELECT doc_id, sqrt(sum(tfidf * tfidf)) AS norm
    FROM tfidf GROUP BY doc_id
),
dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           sum(a.tfidf * b.tfidf) AS num
    FROM tfidf a JOIN tfidf b
      ON a.term = b.term AND a.doc_id < b.doc_id
    WHERE a.tfidf <> 0 AND b.tfidf <> 0  -- mirror Spark's zero-weight pruning
    GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b,
       round(d.num / (na.norm * nb.norm), 6) AS similarity
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
WHERE na.norm * nb.norm <> 0
ORDER BY round(d.num / (na.norm * nb.norm), 6) DESC, d.doc_a, d.doc_b
LIMIT 10
""",
)
def text_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most similar DOCUMENT pairs by tf-idf cosine — the
    doc-axis dual of the flagship (operators/text.py
    doc_similarity_topk). Ordering is on the 6-dp-rounded similarity
    with doc-pair tie-breaks, so near-tie float noise can't reorder
    the top-k across engines.

    SEMANTICS (this operator's spec, which the oracle mirrors): a
    zero tf-idf weight carries no signal, so pairs whose ONLY shared
    terms have idf=0 (terms present in every document) contribute a
    zero dot product and emit NO row — not a row with similarity
    0.0. This matches the flagship's reference semantics (app.py:78
    drops zero-similarity terms before ranking, reference R17); the
    oracle's ``tfidf <> 0`` predicate encodes that spec, it is not a
    back-port of an implementation accident."""
    return T.doc_similarity_topk(_corpus(spark, sf_dir), k=10, round_to=6,
                                 cache_key=_corpus_key(sf_dir))


# Plane component for (term, plane idx): ONE md5-low-60-bit base hash
# of "term:42" reduced mod M31, then the per-plane affine map
# u = ((a*base + b) % M31) / M31 * 2 - 1 — the exact arithmetic of
# operators/text.py doc_vector_lsh_buckets' portable family
# (lsh_affine_constants(42, 128) embedded as a VALUES table).
# 128 = n_tables(16) × n_planes(8).
_LSH_PLANE_ROWS = ",\n           ".join(
    f"({i}, {a}, {b})"
    for i, (a, b) in enumerate(T.lsh_affine_constants(42, 128)))
_DOCSIM_ANN_ORACLE = f"""
WITH {{ctes}},
planes(idx, pa, pb) AS (
    VALUES {_LSH_PLANE_ROWS}
),
wnz AS (
    SELECT doc_id, term, tfidf,
           ('0x' || substr(md5(term || ':42'), 1, 15))::BIGINT
               % 2147483647 AS base
    FROM tfidf WHERE tfidf <> 0
),
proj AS (
    SELECT doc_id, p.idx,
           sum(tfidf * ((((p.pa * base + p.pb) % 2147483647)
                         / 2147483647.0) * 2 - 1)) AS s
    FROM wnz
    CROSS JOIN planes p
    GROUP BY doc_id, p.idx
),
buckets AS (
    SELECT doc_id, idx // 8 AS table_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << (idx % 8))
                         ELSE 0 END) AS BIGINT) AS bucket
    FROM proj GROUP BY doc_id, idx // 8
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.table_id = b.table_id AND a.bucket = b.bucket
     AND a.doc_id < b.doc_id
),
norms AS (
    SELECT doc_id, sqrt(sum(tfidf * tfidf)) AS norm
    FROM tfidf GROUP BY doc_id
),
dots AS (
    SELECT c.doc_a, c.doc_b, sum(a.tfidf * b.tfidf) AS num
    FROM cand c
    JOIN wnz a ON a.doc_id = c.doc_a
    JOIN wnz b ON b.doc_id = c.doc_b AND b.term = a.term
    GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b,
       round(d.num / (na.norm * nb.norm), 6) AS similarity
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
WHERE d.num > 0 AND na.norm * nb.norm <> 0
ORDER BY round(d.num / (na.norm * nb.norm), 6) DESC, d.doc_a, d.doc_b
LIMIT 10
""".format(ctes=_TFIDF_CTES)


@query("text_doc_similarity_ann", oracle=_DOCSIM_ANN_ORACLE)
def text_doc_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 doc pairs via sign-LSH candidate generation over the
    sparse tf-idf vectors + exact cosine re-rank (operators/text.py
    doc_similarity_topk_ann) — the scale path replacing
    text_doc_similarity's quadratic pair joins.

    Fully oracle-verified (upgraded from rows-only in r5): plane
    components come from the portable md5 hash family, so the DuckDB
    oracle re-derives the identical 16×8 projection matrix, buckets,
    candidate set, and re-rank — the approximation (bucket pruning)
    is deterministic and engine-independent. Ordering is on the
    6-dp-rounded similarity with doc-pair tie-breaks. Recall vs the
    exact operator stays pinned in tests/test_text.py."""
    return T.doc_similarity_topk_ann(_corpus(spark, sf_dir), k=10,
                                     round_to=6,
                                     cache_key=_corpus_key(sf_dir),
                                     hash_family="portable")


@query(
    "text_stats",
    oracle="""
WITH corpus AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text, lang, n_chars
    FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
per_doc AS (
    SELECT doc_id, count(*) AS n_tokens,
           count(DISTINCT term) AS n_distinct_terms
    FROM tok WHERE term <> '' GROUP BY doc_id
)
SELECT c.doc_id, c.lang, c.n_chars,
       CAST(length(c.text) AS BIGINT) AS text_len,
       p.n_tokens, p.n_distinct_terms,
       round(p.n_distinct_terms / CAST(p.n_tokens AS DOUBLE), 6)
           AS distinct_ratio
FROM corpus c JOIN per_doc p ON c.doc_id = p.doc_id
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus statistics (SURVEY §2.B text_stats):
    token/distinct-term counts + stored vs computed char length."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text", "lang", "n_chars")
    per_doc = (
        T.tokenize(docs.select("doc_id", "text"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"),
             F.countDistinct("term").alias("n_distinct_terms"))
    )
    return docs.join(per_doc, "doc_id").select(
        "doc_id", "lang", "n_chars",
        F.length("text").cast("bigint").alias("text_len"),
        "n_tokens", "n_distinct_terms",
        F.round(F.col("n_distinct_terms") / F.col("n_tokens"), 6)
         .alias("distinct_ratio"),
    )


@query(
    "text_bm25",
    oracle=f"""
WITH corpus AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
tc AS (
    SELECT doc_id, term, count(*) AS tf
    FROM tok WHERE term <> '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS doc_len FROM tc GROUP BY doc_id),
stats AS (
    SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM dl
),
dfreq AS (
    SELECT count(*) AS df FROM tc
    WHERE term = '{FLAGSHIP_QUERY_TERM}'
),
scored AS (
    SELECT t.doc_id,
           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
             * t.tf * 2.2
             / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.doc_len / s.avgdl))
               AS score
    FROM tc t
    JOIN dl d ON d.doc_id = t.doc_id
    CROSS JOIN stats s CROSS JOIN dfreq f
    WHERE t.term = '{FLAGSHIP_QUERY_TERM}'
)
SELECT doc_id, round(score, 6) AS bm25
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 10
""",
)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document retrieval for the flagship query term (k1=1.2,
    b=0.75 — the standard Robertson parameters): the doc-ranking
    dual of the term-term flagship, and the first-stage retriever a
    RAG/training-data pipeline runs before embedding re-rank. All
    corpus statistics (N, avgdl, df) are 1-row aggregates attached
    by broadcast cross-join — in-plan, no driver scalars — and the
    candidate relation is pre-filtered to rows containing the query
    term, so the scan feeding the score is df(term) rows, not the
    corpus. Top-k plans as TakeOrderedAndProject."""
    corpus = _corpus(spark, sf_dir)
    counts = T.term_counts(T.tokenize(corpus))
    doc_len = counts.groupBy("doc_id").agg(
        F.sum("tf_count").alias("doc_len"))
    stats = doc_len.agg(F.count("*").alias("n_docs"),
                        F.avg("doc_len").alias("avgdl"))
    dfreq = (counts.filter(F.col("term") == FLAGSHIP_QUERY_TERM)
             .agg(F.count("*").alias("df")))
    k1, b = 1.2, 0.75
    scored = (
        counts.filter(F.col("term") == FLAGSHIP_QUERY_TERM)
        .join(doc_len, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfreq))
        .select(
            "doc_id",
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5)
                      / (F.col("df") + 0.5) + 1)
                * F.col("tf_count") * (k1 + 1)
                / (F.col("tf_count")
                   + k1 * (1 - b + b * F.col("doc_len") / F.col("avgdl")))
            ).alias("score"),
        )
    )
    return (scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
            .select("doc_id", F.round("score", 6).alias("bm25")))


@query(
    "text_ngrams",
    oracle="""
WITH corpus AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
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
           lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM tok WHERE term <> ''
)
SELECT term || ' ' || nxt AS bigram, count(*) AS cnt
FROM seq WHERE nxt IS NOT NULL
GROUP BY bigram
""",
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (SURVEY §2.B text_ngrams), built
    array-side per document so the only shuffle is the final count —
    a lead() window would shuffle AND sort the whole token stream by
    (doc_id, pos) first. One index-based transform over a single
    reference to the token array (pairing element i with i+1) rather
    than zip_with over two slices: fewer higher-order nodes keeps the
    generated code small (first-run compile 2.8s -> 1.9s at sf0.1)
    and avoids re-evaluating the split under projection collapse.
    The oracle keeps the window formulation; values are identical."""
    with_toks = _corpus(spark, sf_dir).select(
        F.array_remove(F.split("text", r"\s+"), "").alias("toks"))
    # i ranges over 0..size-2 (the slice drops the tail element), so
    # toks[i+1] is always in bounds
    bigrams = F.expr(
        "transform(slice(toks, 1, greatest(size(toks)-1, 0)), "
        "(x, i) -> concat_ws(' ', x, toks[i+1]))")
    return (
        with_toks.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "text_keywords",
    oracle=f"""
WITH {_TFIDF_CTES},
ranked AS (
    SELECT doc_id, term, round(tfidf, 6) AS tfidf,
           row_number() OVER (
               PARTITION BY doc_id
               ORDER BY round(tfidf, 6) DESC, term ASC) AS rn
    FROM tfidf WHERE tfidf > 0
)
SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 3
""",
)
def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-3 tf-idf terms of
    every document (zero-weight terms excluded — idf=0 terms appear
    in every doc and are definitionally not keywords). The ranking
    runs on the 6-dp-ROUNDED weight with a term tie-break, so float
    noise can't reorder near-ties across engines.

    Scale shape: reuses the persisted tf-idf weight relation (the
    same slot the flagship, doc-similarity, and BM25 share — one
    corpus pass serves all four), then ONE doc_id-partitioned
    row_number window. doc_id is the natural high-cardinality
    partition key — per-doc vocabularies are bounded, so no task ever
    sees more than one document's terms: this window CANNOT skew, in
    contrast to a term-partitioned window (the stopword trap SURVEY
    §4.2 documents)."""
    from project_2_semantic_similarity_spark.operators.cache import (
        keyed_persist)

    # the exact slot doc_similarity_topk fills (operators/text.py:249)
    # — same name, same key, same builder, so whichever of the two
    # ops runs first pays the corpus pass and the other reuses it
    corpus = _corpus(spark, sf_dir)
    weights = keyed_persist(
        "docsim_weights", _corpus_key(sf_dir),
        lambda: T.tfidf(corpus).filter(F.col("tfidf") != 0))
    w = Window.partitionBy("doc_id").orderBy(
        F.round("tfidf", 6).desc(), F.col("term").asc())
    return (
        weights
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"),
                F.col("rank").cast("bigint").alias("rank"))
    )


@query(
    "text_cooccurrence_pmi",
    oracle="""
WITH tok AS (
    SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM documents
),
tf AS (SELECT term, count(*) AS df FROM tok WHERE term <> '' GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
co AS (
    SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_co
    FROM tok a JOIN tok b
      ON a.doc_id = b.doc_id AND a.term < b.term
    WHERE a.term <> '' AND b.term <> ''
    GROUP BY term_a, term_b
)
SELECT co.term_a, co.term_b, CAST(co.n_co AS BIGINT) AS n_co,
       round(ln(co.n_co * n.n_docs
                / CAST(fa.df * fb.df AS DOUBLE)), 6) AS pmi
FROM co
JOIN tf fa ON fa.term = co.term_a
JOIN tf fb ON fb.term = co.term_b
CROSS JOIN n
WHERE co.n_co >= 5
""",
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level term co-occurrence PMI — the distributional
    statistic embedding trainers (word2vec/GloVe count pass) consume:
    pmi(a,b) = ln( P(a,b) / (P(a)·P(b)) ) over document co-presence,
    gated at n_co ≥ 5 (unstable PMI below).

    Scale shape: the co-occurrence self-join keys on doc_id, so the
    blow-up is Σ (distinct terms per doc)² — bounded by document
    length, never vocab or corpus size; the df joins are UNHINTED
    (r12 — the raw-term df relation is Heaps'-law-sized at web
    scale, the exact class the tokenizer family's vocab joins
    stopped hinting): AQE broadcasts it at every tested scale and
    shuffle-joins past threshold; the corpus count rides a broadcast
    1-row aggregate (the flagship's N discipline, operators/text.py).
    Output cardinality is min(Σ doc_vocab², vocab²) — at web scale
    the n_co gate prunes the heavy tail map-side before the final
    agg's shuffle."""
    from project_2_semantic_similarity_spark.sources import (
        corpus_from_documents)

    corpus = corpus_from_documents(
        load_table(spark, sf_dir, "documents"))
    tok = (corpus.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("term"))
        .filter(F.col("term") != "").distinct())
    tf = tok.groupBy("term").agg(F.count("*").alias("df"))
    n = corpus.agg(F.count("*").alias("n_docs"))
    a = tok.alias("a")
    b = tok.alias("b")
    co = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id"))
               & (F.col("a.term") < F.col("b.term")))
        .groupBy(F.col("a.term").alias("term_a"),
                 F.col("b.term").alias("term_b"))
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 5)
    )
    return (
        co
        .join(tf.withColumnsRenamed(
            {"term": "term_a", "df": "dfa"}), "term_a")
        .join(tf.withColumnsRenamed(
            {"term": "term_b", "df": "dfb"}), "term_b")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a", "term_b",
            F.col("n_co").cast("bigint").alias("n_co"),
            F.round(F.log(F.col("n_co") * F.col("n_docs")
                          / (F.col("dfa") * F.col("dfb"))
                          .cast("double")), 6).alias("pmi"))
    )


# ------------------------------------------------- inverted index sink

# Term-hash bucket count for the materialized inverted index — the
# text twin of sink_ivf_partitioned's inverted lists. Portable
# bucketing (md5 prefix, not an engine hash) so the oracle computes
# the identical bucket for the query term.
_POSTINGS_BUCKETS = 16
_POSTINGS_K = 10


@query(
    "sink_inverted_postings",
    oracle=f"""
WITH postings AS (
    SELECT w AS term, doc_id, CAST(count(*) AS BIGINT) AS tf
    FROM documents,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(w)
    GROUP BY w, doc_id
),
doclen AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len
    FROM documents,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(w)
    GROUP BY doc_id
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
hits AS (
    SELECT p.doc_id, p.tf, d.doc_len,
           CAST(count(*) OVER () AS BIGINT) AS df
    FROM postings p JOIN doclen d USING (doc_id)
    WHERE p.term = '{FLAGSHIP_QUERY_TERM}'
)
SELECT doc_id, tf, doc_len, df,
       round((tf * 1.0 / doc_len) * log10(n.n_docs / df), 6) AS score
FROM hits, n
ORDER BY (tf * 1.0 / doc_len) * log10(n.n_docs / df) DESC, doc_id
LIMIT {_POSTINGS_K}
""",
)
def sink_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """An INVERTED INDEX MATERIALIZED — the text-retrieval twin of
    sink_ivf_partitioned: the postings relation (term, doc_id, tf) is
    written ``partitionBy(bucket)`` with a PORTABLE md5 term bucket
    (every posting of one term lives in exactly one of the
    {_POSTINGS_BUCKETS} directories), and the serve path re-reads it
    with the query term's bucket as a STATIC partition filter — the
    literal is computed from the constant term before planning, so
    the scan touches 1/{_POSTINGS_BUCKETS} of the files on disk with
    no driver round-trip and no DPP machinery needed. Scoring is the
    reference's own (tf/doc_len)·log10(N/df) (app.py:33-36,58 — TF
    normalized by document length; r12 ADVICE caught the unnormalized
    form) over the pruned bucket; doc_len is DENORMALIZED INTO the
    postings layout at build time so the serve path can score the
    reference's formula from the one pruned bucket without a
    corpus-side join, and df comes from the bucket itself (all of a
    term's postings are co-located — the property the layout exists
    to provide).

    At 100 TB: the postings build is one exploded hash agg (uniform
    term-doc keys), the write is one shuffle into the bucketed
    layout, and EVERY subsequent term query is a one-bucket scan —
    the parquet-native serving story for BM25/tf-idf retrieval,
    exactly as sink_ivf_partitioned is for ANN."""
    import hashlib

    from project_2_semantic_similarity_spark.scratch import scratch_path

    docs = load_table(spark, sf_dir, "documents")
    words = (docs
             .select("doc_id",
                     F.explode(F.split(F.col("text"), " "))
                      .alias("term"))
             .filter(F.col("term") != ""))
    # doc_len denormalized into every posting row: the serve path
    # reads ONE bucket and must score (tf/doc_len)·log10(N/df)
    # (app.py:58) without joining a corpus-sized doc-length relation
    doclen = words.groupBy("doc_id").agg(
        F.count("*").alias("doc_len"))
    postings = (words
                .groupBy("term", "doc_id")
                .agg(F.count("*").alias("tf"))
                .join(doclen, "doc_id")
                .withColumn(
                    "bucket",
                    (F.conv(F.substring(F.md5(F.col("term")), 1, 4),
                            16, 10).cast("int")
                     % _POSTINGS_BUCKETS)))
    out = scratch_path(
        f"{sf_dir.strip('/').replace('/', '_')}_postings_layout")
    (postings.write.mode("overwrite")
     .partitionBy("bucket").parquet(out))

    qbucket = int(hashlib.md5(
        FLAGSHIP_QUERY_TERM.encode()).hexdigest()[:4], 16) \
        % _POSTINGS_BUCKETS
    idx = spark.read.parquet(out)
    n_docs = docs.count()  # scalar: corpus size for the idf
    hits = (idx.filter((F.col("bucket") == qbucket)
                       & (F.col("term") == FLAGSHIP_QUERY_TERM))
            .select("doc_id", "tf", "doc_len"))
    # df as a distributed partial count + 1-row broadcast — never a
    # single-partition window over the hits (a stopword's postings
    # are corpus-scale)
    df_rel = hits.agg(F.count("*").alias("df"))
    scored = hits.crossJoin(F.broadcast(df_rel))
    score = ((F.col("tf") * F.lit(1.0) / F.col("doc_len"))
             * F.log10(F.lit(float(n_docs)) / F.col("df")))
    return (scored
            .select("doc_id", "tf", "doc_len", "df",
                    F.round(score, 6).alias("score"))
            .orderBy(F.desc(score), F.asc("doc_id"))
            .limit(_POSTINGS_K))
